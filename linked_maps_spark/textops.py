"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting — all JVM-side expressions (no Python UDFs), each
with an exact DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .dedup import h32_expr, h32_sql, tokens_expr, word_shingles_expr, word_shingles_sql

# tiny deterministic stopword marker sets per language
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "es", "y"],
}
STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})
PUNCT_CLASS = r"[.,!?;:]"
# BPE-ish pre-tokenizer (GPT-2-style shape): contraction suffixes, letter
# runs, digit runs, other-symbol runs — same pattern semantics in Java regex
# (Spark) and RE2 (DuckDB), so the count is oracle-exact
BPE_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def _hits(toks, words: list[str]):
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def token_stats(documents: DataFrame) -> DataFrame:
    """Token counting + quality scoring (length / punct / stopword ratios).

    quality = rounded linear combo; all ratios are int/int divisions done
    once in double — bit-identical to the SQL oracle."""
    toks = F.expr(tokens_expr("text"))
    n_tok = F.size(toks)
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.regexp_replace("text", PUNCT_CLASS, ""))
    n_stop = _hits(toks, STOPWORDS)
    return documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)).alias("n_bpe_tokens"),
        n_chars.alias("n_chars"),
        F.round(n_punct / n_chars, 6).alias("punct_ratio"),
        F.round(n_stop / n_tok, 6).alias("stopword_ratio"),
        F.round(
            (n_stop / n_tok) * 0.5
            + F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.5,
            6,
        ).alias("quality_score"),
    ).orderBy("doc_id")


def token_stats_sql() -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS)
    toks = "string_split_regex(trim(lower(text)), '\\s+')"
    bpe = BPE_PATTERN.replace("'", "''")
    return f"""
    SELECT doc_id,
           len({toks}) AS n_tokens,
           len(regexp_extract_all(text, '{bpe}')) AS n_bpe_tokens,
           length(text) AS n_chars,
           ROUND((length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')))
                 / length(text), 6) AS punct_ratio,
           ROUND(len(list_filter({toks}, t -> t IN ({words}))) / len({toks}), 6)
               AS stopword_ratio,
           ROUND((len(list_filter({toks}, t -> t IN ({words}))) / len({toks})) * 0.5
                 + least(len({toks}) / 100.0, 1.0) * 0.5, 6) AS quality_score
    FROM documents
    ORDER BY doc_id
    """


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-token language ID with deterministic argmax (score desc, code
    asc).  The n-gram-heuristic classifier of the task brief, kept exactly
    SQL-expressible."""
    toks = F.expr(tokens_expr("text"))
    scores = F.array(
        *[
            F.struct(
                (-_hits(toks, ws)).alias("neg_score"), F.lit(code).alias("lang_pred")
            )
            for code, ws in sorted(LANG_MARKERS.items())
        ]
    )
    best = F.array_sort(scores)[0]
    return documents.select(
        "doc_id",
        best["lang_pred"].alias("lang_pred"),
        (-best["neg_score"]).cast("long").alias("marker_hits"),
    ).orderBy("doc_id")


def lang_id_sql() -> str:
    structs = []
    for code, ws in sorted(LANG_MARKERS.items()):
        words = ", ".join(f"'{w}'" for w in ws)
        structs.append(
            "{'neg_score': -len(list_filter("
            "string_split_regex(trim(lower(text)), '\\s+'), "
            f"t -> t IN ({words}))), 'lang_pred': '{code}'}}"
        )
    return f"""
    WITH best AS (
        SELECT doc_id, list_sort([{', '.join(structs)}])[1] AS b
        FROM documents
    )
    SELECT doc_id, b.lang_pred AS lang_pred, CAST(-b.neg_score AS BIGINT) AS marker_hits
    FROM best
    ORDER BY doc_id
    """


# hashed-classifier defaults: feature space size and weight salt.  Weights
# are md5-derived integers in [-8, 8] so the margin is EXACT integer
# arithmetic on both engines (a float dot product would drift in the last
# ulp between libm implementations and break the value-hash oracle).
QC_FEATURES = 512
QC_SALT = "qc"
QC_WEIGHT_SALT = "qcw"


def _qc_weight(tok: str) -> str:
    """Spark-SQL text of the integer weight of one token (the SQL expression
    ``tok``) under the hashing trick: the token hashes into one of
    ``QC_FEATURES`` buckets, the bucket id hashes to a weight in [-8, 8]."""
    feat = f"pmod({h32_expr(tok, QC_SALT)}, {QC_FEATURES})"
    return f"pmod({h32_expr(f'cast({feat} as string)', QC_WEIGHT_SALT)}, 17) - 8"


def quality_classifier(documents: DataFrame) -> DataFrame:
    """Hashed-feature linear text classifier (the fastText-style quality
    scorer every LLM-corpus pipeline runs before training — CCNet/LLaMA's
    "keep if the model scores it above threshold" step).

    Bag-of-words with the hashing trick: every token occurrence maps to one
    of ``QC_FEATURES`` buckets (``h32`` — portable md5 arithmetic), each
    bucket carries a deterministic integer weight, and the document's margin
    is the plain sum.  The whole scorer is ONE per-row JVM ``aggregate``
    expression — no shuffle, no UDF, embarrassingly parallel at 100 TB; a
    production pipeline would swap the md5-derived weights for trained ones
    (same plan, different literal table).  ``keep = margin > 0``.
    """
    margin = _qc_margin_expr()
    return documents.select(
        "doc_id",
        F.expr(f"size({tokens_expr('text')}) AS n_tokens"),
        margin.alias("margin"),
        (margin > 0).alias("keep"),
    ).orderBy("doc_id")


def quality_classifier_sql() -> str:
    toks = "string_split_regex(trim(lower(text)), '\\s+')"
    feat = f"({h32_sql('t', QC_SALT)} % {QC_FEATURES})"
    weight = f"({h32_sql(f'CAST({feat} AS VARCHAR)', QC_WEIGHT_SALT)} % 17) - 8"
    return f"""
    SELECT doc_id,
           len({toks}) AS n_tokens,
           CAST(coalesce(list_sum(list_transform({toks}, t -> {weight})), 0)
                AS BIGINT) AS margin,
           CAST(coalesce(list_sum(list_transform({toks}, t -> {weight})), 0)
                AS BIGINT) > 0 AS keep
    FROM documents
    ORDER BY doc_id
    """


# trained-classifier constants: a SMALLER hashed feature space than the
# md5 scorer (the fixture vocabulary is small; 128 buckets ≈ collision-free
# there) and a fixed integer-perceptron iteration budget, so training is
# deterministic and exactly replayable by the DuckDB oracle's recursive CTE
QC_T_FEATURES = 128
QC_T_ITERS = 64
QC_GOLD_SALT = "qcg3"  # chosen for balanced teacher labels (~65% positive) on the fixtures
QC_SPLIT_SALT = "qsplit"
QC_TRAIN_PCT = 80

# plan semanticHash -> trained weight list (plain python, like bpe's memo)
_qc_weights_cache: dict[int, list[int]] = {}


def _qc_t_feat(tok: str) -> str:
    """Spark-SQL text of the trained classifier's feature id of ``tok``."""
    return f"pmod({h32_expr(tok, QC_SALT)}, {QC_T_FEATURES})"


def _qc_gold_weight(tok: str) -> str:
    """The hidden deterministic 'teacher' (Spark-SQL text): same hashed
    feature space, DIFFERENT weight salt.  Labels derived from it are a
    realizable linear concept — what a real pipeline gets from human/LLM
    quality labels — while staying engine-independent (portable md5
    arithmetic)."""
    feat = _qc_t_feat(tok)
    return f"pmod({h32_expr(f'cast({feat} as string)', QC_GOLD_SALT)}, 17) - 8"


def _qc_label_col():
    return F.expr(
        f"CASE WHEN aggregate({tokens_expr('text')}, cast(0 as bigint), "
        f"(_acc, _t) -> _acc + ({_qc_gold_weight('_t')})) > 0 THEN 1 ELSE -1 END"
    )


# Spark-SQL text of the deterministic train/heldout split
_QC_IS_TRAIN = (
    f"pmod({h32_expr('cast(doc_id as string)', QC_SPLIT_SALT)}, 100) < {QC_TRAIN_PCT}"
)


# auto-dispatch ceiling for driver-side training (the BPE pattern): the
# (doc, feature, count) table has ≤ QC_T_FEATURES rows per doc, so even a
# 10⁶-doc labeled set collects to ~10⁸ cells — beyond that the distributed
# per-iteration loop takes over
QC_DRIVER_MAX_CELLS = 2_000_000


def _train_weights_rows(
    rows: "list[tuple[int, int, int, int]]", iters: int
) -> list[int]:
    """The integer batch-perceptron iteration over collected
    (doc_id, y, feat, cnt) cells — the single definition both execution
    strategies and the DuckDB oracle must match."""
    by_doc: dict[int, tuple[int, dict[int, int]]] = {}
    for doc_id, y, feat, cnt in rows:
        ent = by_doc.setdefault(doc_id, (y, {}))
        ent[1][feat] = ent[1].get(feat, 0) + cnt
    w = [0] * QC_T_FEATURES
    for _ in range(iters):
        delta: dict[int, int] = {}
        hit = False
        for y, cnts in by_doc.values():
            m = sum(w[f] * n for f, n in cnts.items())
            if y * m <= 0:
                hit = True
                for f, n in cnts.items():
                    delta[f] = delta.get(f, 0) + y * n
        if not hit or all(v == 0 for v in delta.values()):
            break  # fixpoint: remaining iterations cannot change w
        for f, d in delta.items():
            w[f] += d
    return w


def _qc_count_table(documents: DataFrame) -> DataFrame:
    return (
        documents
        .filter(_QC_IS_TRAIN)
        .withColumn("y", _qc_label_col())
        .selectExpr("doc_id", "y", f"explode({tokens_expr('text')}) AS t")
        .selectExpr("doc_id", "y", f"{_qc_t_feat('t')} AS feat")
        .groupBy("doc_id", "y", "feat")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def train_quality_weights(
    documents: DataFrame, iters: int = QC_T_ITERS, mode: str = "auto"
) -> list[int]:
    """Fixed-iteration integer batch perceptron over hashed token counts.

    The (doc, feature, count) table is built once (one explode + groupBy,
    ≤ ``QC_T_FEATURES`` rows per doc).  ``mode="auto"`` collects it and
    iterates in-driver when it is metadata-sized (≤ ``QC_DRIVER_MAX_CELLS``
    cells — ONE Spark job for the whole training, the BPE dispatch
    pattern); above that, ``mode="distributed"`` runs each iteration as
    two aggregations over the cached cell table — margins under the
    current broadcast weight literal, then the summed update from
    misclassified docs — collecting only ≤ ``QC_T_FEATURES`` delta rows
    per iteration.  Both strategies execute the SAME iteration
    (:func:`_train_weights_rows`; equality pinned in tests) and everything
    is integer, so the weights are bit-identical across engines; the
    DuckDB oracle replays the same iterations as a recursive CTE."""
    dt = _qc_count_table(documents).localCheckpoint(eager=True)
    if mode == "auto":
        mode = "driver" if dt.count() <= QC_DRIVER_MAX_CELLS else "distributed"
    if mode == "driver":
        rows = [
            (int(r["doc_id"]), int(r["y"]), int(r["feat"]), int(r["cnt"]))
            for r in dt.collect()
        ]
        return _train_weights_rows(rows, iters)
    if mode != "distributed":
        raise ValueError(f"train_quality_weights: unknown mode {mode!r}")
    w = [0] * QC_T_FEATURES
    for _ in range(iters):
        warr = F.array(*[F.lit(int(x)) for x in w])
        mis = (
            dt.groupBy("doc_id", "y")
            .agg(F.sum(F.col("cnt") * F.element_at(warr, (F.col("feat") + 1).cast("int"))).alias("m"))
            .filter(F.col("y") * F.col("m") <= 0)
            .select("doc_id")
        )
        deltas = (
            # left-semi with NO broadcast hint: `mis` is ~half the corpus in
            # early iterations, and a forced broadcast of a corpus-sized
            # frame OOMs at 10^8+ docs.  AQE still broadcasts it while it is
            # actually small and shuffles when it is not.
            dt.join(mis, "doc_id", "left_semi")
            .groupBy("feat")
            .agg(F.sum(F.col("y") * F.col("cnt")).alias("d"))
            .collect()
        )
        if not deltas or all(int(r["d"]) == 0 for r in deltas):
            break
        for r in deltas:
            w[int(r["feat"])] += int(r["d"])
    return w


def quality_trained(documents: DataFrame) -> DataFrame:
    """Trained hashed-feature quality classifier — the round-4 "untrained
    weights" gap closed.  Training (:func:`train_quality_weights`) happens
    once per input plan (memoized); scoring is the SAME one-expression
    JVM plan as :func:`quality_classifier` with the trained weights as the
    literal table — no shuffle, no UDF, embarrassingly parallel at 100 TB.
    Output adds the deterministic train/heldout split so the gate (and the
    accuracy test) can evaluate generalization."""
    key = None
    try:
        key = documents.semanticHash()
    except Exception:
        pass
    if key is not None and key in _qc_weights_cache:
        w = _qc_weights_cache[key]
    else:
        w = train_quality_weights(documents)
        if key is not None:
            _qc_weights_cache[key] = w
    warr = "array(" + ", ".join(str(int(x)) for x in w) + ")"
    margin = F.expr(
        f"aggregate({tokens_expr('text')}, cast(0 as bigint), (_acc, _t) -> _acc + "
        f"cast(element_at({warr}, cast({_qc_t_feat('_t')} + 1 as int)) as bigint))"
    )
    return documents.select(
        "doc_id",
        F.expr(f"CASE WHEN {_QC_IS_TRAIN} THEN 'train' ELSE 'heldout' END AS split"),
        margin.alias("margin"),
        (margin > 0).alias("keep"),
    ).orderBy("doc_id")


def quality_trained_sql(iters: int = QC_T_ITERS) -> str:
    """Oracle: the recursive CTE replays the SAME fixed-iteration integer
    perceptron (labels, split, per-iteration misclassified-set updates)
    and scores every document with the final weight table via unnest+join
    (DuckDB lambdas cannot hold subqueries)."""
    nf = QC_T_FEATURES
    toks = "string_split_regex(trim(lower(text)), '\\s+')"
    feat = f"({h32_sql('t', QC_SALT)} % {nf})"
    gold_w = f"(({h32_sql(f'CAST({feat} AS VARCHAR)', QC_GOLD_SALT)} % 17) - 8)"
    split = f"({h32_sql('CAST(doc_id AS VARCHAR)', QC_SPLIT_SALT)} % 100) < {QC_TRAIN_PCT}"
    return f"""
WITH RECURSIVE
docs0 AS (SELECT doc_id, {toks} AS toks FROM documents),
lab AS (
  SELECT doc_id, toks,
    CASE WHEN coalesce(list_sum(list_transform(toks, t -> {gold_w})), 0) > 0
         THEN 1 ELSE -1 END AS y,
    {split} AS is_train
  FROM docs0),
dt AS (
  SELECT doc_id, y, {feat} AS feat, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, y, unnest(toks) AS t FROM lab WHERE is_train)
  GROUP BY 1, 2, 3),
wt AS (
  SELECT 0 AS iter, f AS feat, CAST(0 AS BIGINT) AS w FROM range({nf}) t(f)
  UNION ALL
  SELECT iter + 1, feat, w + coalesce((
      SELECT sum(dt.y * dt.cnt) FROM dt
      JOIN (SELECT doc_id FROM (
              SELECT dt2.doc_id, any_value(dt2.y) AS yy,
                     sum(dt2.cnt * (SELECT w2.w FROM wt w2 WHERE w2.feat = dt2.feat)) AS mm
              FROM dt dt2 GROUP BY dt2.doc_id)
            WHERE yy * mm <= 0) mis USING (doc_id)
      WHERE dt.feat = wt.feat), 0) AS w
  FROM wt WHERE iter < {iters}),
alltok AS (SELECT doc_id, {feat} AS feat
           FROM (SELECT doc_id, unnest(toks) AS t FROM lab)),
sc AS (SELECT a.doc_id, CAST(sum(fw.w) AS BIGINT) AS margin
       FROM alltok a JOIN (SELECT feat, w FROM wt WHERE iter = {iters}) fw
            USING (feat)
       GROUP BY a.doc_id)
SELECT lab.doc_id,
       CASE WHEN is_train THEN 'train' ELSE 'heldout' END AS split,
       coalesce(sc.margin, 0) AS margin,
       coalesce(sc.margin, 0) > 0 AS keep
FROM lab LEFT JOIN sc USING (doc_id)
ORDER BY doc_id
"""


def repetition_signals(documents: DataFrame) -> DataFrame:
    """Gopher/C4-style repetition + format quality signals per document.

    The classic LLM-corpus filters (Rae et al. 2021 "Gopher" §A1.1, Raffel
    et al. 2020 "C4"): repeated-word fraction, most-frequent-word and
    most-frequent-2-gram character fractions, duplicate-2-gram fraction,
    duplicate-line fraction, bullet-start and ellipsis-end line fractions.
    Everything is explode + groupBy (linear, map-side partial aggregation —
    no per-row quadratic array probing), joined back on ``doc_id`` so all
    three aggregations share one shuffle key.  Ties for "most frequent"
    break lexicographically, making the result deterministic and
    oracle-exact; every ratio is a single int/int division in double.
    """
    base = documents.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.expr(f"{tokens_expr('text')} AS ts"),
        F.split("text", "\n", -1).alias("lines"),
    )
    wc = (
        base.select("doc_id", F.explode("ts").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("w"))
    word_stats = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"), F.count("*").alias("n_distinct_words")
    )
    word_top = (
        wc.withColumn("rn", F.row_number().over(win))
        .filter("rn = 1")
        .select("doc_id", F.col("w").alias("top_word"), F.col("cnt").alias("top_wcnt"))
    )
    grams = F.when(
        F.size("ts") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("ts") - 2),
            lambda i: F.concat_ws(" ", F.slice("ts", i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gc = (
        base.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("cnt"))
    )
    gwin = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("g"))
    gram_stats = gc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_g"),
    )
    gram_top = (
        gc.withColumn("rn", F.row_number().over(gwin))
        .filter("rn = 1")
        .select("doc_id", F.col("g").alias("top_2gram"), F.col("cnt").alias("top_gcnt"))
    )
    lc = (
        base.select("doc_id", F.explode("lines").alias("line"))
        .groupBy("doc_id", "line")
        .agg(F.count("*").alias("cnt"))
    )
    line_stats = lc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_l"),
        F.sum(
            F.when(
                F.col("line").startswith("- ") | F.col("line").startswith("* "),
                F.col("cnt"),
            ).otherwise(0)
        ).alias("bullet_l"),
        F.sum(
            F.when(F.col("line").endswith("..."), F.col("cnt")).otherwise(0)
        ).alias("ellipsis_l"),
    )
    return (
        base.select("doc_id", "n_chars")
        .join(word_stats, "doc_id")
        .join(word_top, "doc_id")
        .join(gram_stats, "doc_id", "left")
        .join(gram_top, "doc_id", "left")
        .join(line_stats, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "n_distinct_words",
            F.round((F.col("n_words") - F.col("n_distinct_words")) / F.col("n_words"), 6)
            .alias("repeated_word_frac"),
            "top_word",
            F.round(F.col("top_wcnt") / F.col("n_words"), 6).alias("top_word_frac"),
            F.coalesce("top_2gram", F.lit("")).alias("top_2gram"),
            F.round(
                F.coalesce(F.col("top_gcnt") * F.length("top_2gram"), F.lit(0))
                / F.col("n_chars"),
                6,
            ).alias("top_2gram_char_frac"),
            F.when(
                F.col("n_grams") > 0, F.round(F.col("dup_g") / F.col("n_grams"), 6)
            )
            .otherwise(F.lit(0.0))
            .alias("dup_2gram_frac"),
            "n_lines",
            F.round(F.col("dup_l") / F.col("n_lines"), 6).alias("dup_line_frac"),
            F.round(F.col("bullet_l") / F.col("n_lines"), 6).alias("bullet_line_frac"),
            F.round(F.col("ellipsis_l") / F.col("n_lines"), 6).alias(
                "ellipsis_line_frac"
            ),
        )
        .orderBy("doc_id")
    )


def repetition_signals_sql(text_expr: str = "text") -> str:
    """DuckDB oracle for :func:`repetition_signals` over ``documents`` with
    ``text_expr`` in place of the raw column (used by the driver entry to
    line-ize the single-line fixture identically on both engines)."""
    return f"""
    WITH d AS (SELECT doc_id, {text_expr} AS text FROM documents),
    t AS (SELECT doc_id, length(text) AS n_chars, text,
                 string_split_regex(trim(lower(text)), '\\s+') AS ts FROM d),
    w AS (SELECT doc_id, unnest(ts) AS w FROM t),
    wc AS (SELECT doc_id, w, count(*) AS cnt FROM w GROUP BY 1, 2),
    ws AS (SELECT doc_id, sum(cnt) AS n_words, count(*) AS n_distinct FROM wc GROUP BY 1),
    wtop AS (SELECT doc_id, w AS top_word, cnt AS top_wcnt FROM (
                 SELECT doc_id, w, cnt,
                        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, w) AS rn
                 FROM wc) WHERE rn = 1),
    g AS (SELECT t.doc_id, t.ts[i] || ' ' || t.ts[i+1] AS g
          FROM t, unnest(range(1, len(t.ts))) AS r(i)),
    gc AS (SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY 1, 2),
    gs AS (SELECT doc_id, sum(cnt) AS n_grams,
                  sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_g
           FROM gc GROUP BY 1),
    gtop AS (SELECT doc_id, g AS top_2gram, cnt AS top_gcnt FROM (
                 SELECT doc_id, g, cnt,
                        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
                 FROM gc) WHERE rn = 1),
    l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM t),
    lc AS (SELECT doc_id, line, count(*) AS cnt FROM l GROUP BY 1, 2),
    ls AS (SELECT doc_id, sum(cnt) AS n_lines,
                  sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_l,
                  sum(CASE WHEN line LIKE '- %' OR line LIKE '* %'
                           THEN cnt ELSE 0 END) AS bullet_l,
                  sum(CASE WHEN line LIKE '%...' THEN cnt ELSE 0 END) AS ellipsis_l
           FROM lc GROUP BY 1)
    SELECT t.doc_id,
           CAST(ws.n_words AS BIGINT) AS n_words,
           CAST(ws.n_distinct AS BIGINT) AS n_distinct_words,
           ROUND((ws.n_words - ws.n_distinct) / ws.n_words, 6) AS repeated_word_frac,
           wtop.top_word,
           ROUND(wtop.top_wcnt / ws.n_words, 6) AS top_word_frac,
           COALESCE(gtop.top_2gram, '') AS top_2gram,
           ROUND(COALESCE(gtop.top_gcnt * length(gtop.top_2gram), 0) / t.n_chars, 6)
               AS top_2gram_char_frac,
           CASE WHEN gs.n_grams > 0 THEN ROUND(gs.dup_g / gs.n_grams, 6)
                ELSE 0.0 END AS dup_2gram_frac,
           CAST(ls.n_lines AS BIGINT) AS n_lines,
           ROUND(ls.dup_l / ls.n_lines, 6) AS dup_line_frac,
           ROUND(ls.bullet_l / ls.n_lines, 6) AS bullet_line_frac,
           ROUND(ls.ellipsis_l / ls.n_lines, 6) AS ellipsis_line_frac
    FROM t
    JOIN ws USING (doc_id) JOIN wtop USING (doc_id)
    LEFT JOIN gs USING (doc_id) LEFT JOIN gtop USING (doc_id)
    JOIN ls USING (doc_id)
    ORDER BY doc_id
    """


def pack_sequences(documents: DataFrame, seq_len: int = 256) -> DataFrame:
    """GPT-style sequence packing layout: per ``source`` stream, documents
    are concatenated in ``doc_id`` order and cut into fixed ``seq_len``-token
    training sequences; each doc reports where its tokens land.

    This is the standard pretraining batch-layout computation (concatenate →
    chunk, documents may straddle sequence boundaries).  Packing per source
    stream keeps the running-offset window PARTITIONED — a global
    ``Window.orderBy`` would collapse to one task at scale; per-stream
    packing is both the realistic sharding and the scalable plan.  All
    outputs are integer window arithmetic → oracle-exact."""
    n_tok = F.expr(f"size({tokens_expr('text')})")
    win = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_off = documents.select(
        "source",
        "doc_id",
        n_tok.alias("n_tokens"),
        (F.sum(n_tok).over(win) - n_tok).alias("start_offset"),
    )
    first = F.expr(f"start_offset div {seq_len}")
    last = F.expr(f"(start_offset + n_tokens - 1) div {seq_len}")
    return with_off.select(
        "source",
        "doc_id",
        "n_tokens",
        "start_offset",
        first.alias("seq_first"),
        last.alias("seq_last"),
        (last - first + 1).alias("n_seqs"),
    ).orderBy("source", "doc_id")


def pack_sequences_sql(seq_len: int = 256) -> str:
    toks = "string_split_regex(trim(lower(text)), '\\s+')"
    return f"""
    WITH t AS (
        SELECT source, doc_id, len({toks}) AS n_tokens,
               SUM(len({toks})) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - len({toks}) AS start_offset
        FROM documents
    )
    SELECT source, doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(start_offset // {seq_len} AS BIGINT) AS seq_first,
           CAST((start_offset + n_tokens - 1) // {seq_len} AS BIGINT) AS seq_last,
           CAST((start_offset + n_tokens - 1) // {seq_len}
                - start_offset // {seq_len} + 1 AS BIGINT) AS n_seqs
    FROM t
    ORDER BY source, doc_id
    """


# PII patterns shared by the Spark impl and the SQL oracle.  Deliberately
# restricted to syntax with identical semantics in Java regex (Spark) and
# RE2 (DuckDB): char classes, \b, \d, bounded repetition — no lookarounds.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
]


def pii_exprs() -> dict:
    """The PII counting/redaction expressions, staged as a cascade: each
    pattern is counted on the text with all EARLIER patterns already
    redacted, then redacted itself.  Counting and redaction therefore see
    the same text, so one entity can never count under two categories (a
    phone-shaped string inside an email address counts once, as the email
    it belongs to).  Single source of truth for :func:`pii_scan` and
    :func:`curation_columns`."""
    out: dict = {}
    red = F.col("text")
    total = None
    for name, pat, tok in PII_PATTERNS:
        c = F.size(F.regexp_extract_all(red, F.lit(pat), 0)).cast("long")
        out[f"n_{name}"] = c
        total = c if total is None else total + c
        red = F.regexp_replace(red, pat, tok)
    out["redacted"] = red
    out["n_pii"] = total.cast("long")
    return out


def curation_columns() -> dict:
    """The shared stateless curation expressions — content hash, token
    count, total PII hits — used identically by the batch curate CLI and
    ``streaming.stream_curate`` (stream ≡ batch by construction)."""
    return {
        "content_md5": F.md5("text"),
        "n_tokens": F.expr(f"cast(size({tokens_expr('text')}) as bigint)"),
        "n_pii": pii_exprs()["n_pii"],
        # classifier margin + URL density ride along so downstream keep/drop
        # thresholds need no second scan; the exprs are the SAME definitions
        # the oracled operators use (no drift by construction)
        "qc_margin": _qc_margin_expr(),
        "url_char_ratio": _url_char_ratio_expr(),
    }


def pii_scan(documents: DataFrame) -> DataFrame:
    """PII detection + redaction: per doc, the count of each PII pattern
    (emails, IPv4 addresses, dashed phone numbers) and the md5 of the
    redacted text.  Counts come from the same redaction cascade that
    produces the text (see :func:`pii_exprs`), so ``n_pii`` is exactly the
    number of replacement tokens in the redacted output.  The pre-training
    "scrub before tokenize" sweep.

    Stateless JVM-side regex per row — no shuffle at all, a 100-TB scan
    parallelizes embarrassingly and the scan's column pruning keeps it to
    (doc_id, text)."""
    e = pii_exprs()
    return documents.select(
        "doc_id",
        *[e[f"n_{name}"].alias(f"n_{name}") for name, _, _ in PII_PATTERNS],
        F.md5(e["redacted"]).alias("redacted_md5"),
        e["n_pii"].alias("n_pii"),
    ).orderBy("doc_id")


def pii_scan_sql(text_expr: str = "text") -> str:
    # mirror the staged cascade: count pattern k on the text with patterns
    # 0..k-1 already redacted, so counts ≡ replacement tokens in the output
    counts, red = [], text_expr
    for name, pat, tok in PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all({red}, '{pat}')) AS BIGINT) AS n_{name}"
        )
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    total = " + ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    return f"""
    WITH t AS (SELECT doc_id, {", ".join(counts)}, md5({red}) AS redacted_md5
               FROM documents)
    SELECT doc_id, n_email, n_ipv4, n_phone, redacted_md5,
           CAST({total} AS BIGINT) AS n_pii
    FROM t
    ORDER BY doc_id
    """


# C4-style URL density signals.  One regex, identical semantics in Java
# regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround — and an
# EXPLICIT whitespace class instead of \s, whose definition differs between
# the engines (Java's \s includes \x0B vertical tab, RE2's does not).
_WS = r" \t\n\r\f\x0B"
URL_PATTERN = rf"https?://[^{_WS}]+"
URL_DOMAIN_PATTERN = rf"https?://([^/{_WS}]+)"


def _qc_margin_expr():
    """The classifier margin over a ``text`` column — ONE definition shared
    by :func:`quality_classifier` and :func:`curation_columns` so the curate
    scan can never drift from the oracle-verified operator."""
    return F.expr(
        f"aggregate({tokens_expr('text')}, cast(0 as bigint), "
        f"(_acc, _t) -> _acc + ({_qc_weight('_t')}))"
    )


def _url_char_ratio_expr():
    """URL-character fraction of a ``text`` column — shared by
    :func:`url_stats` and :func:`curation_columns` (same drift argument)."""
    urls = F.regexp_extract_all("text", F.lit(URL_PATTERN), 0)
    url_chars = F.aggregate(
        urls, F.lit(0).cast("long"), lambda a, u: a + F.length(u)
    )
    return F.round(url_chars / F.length("text"), 6)


def url_stats(documents: DataFrame) -> DataFrame:
    """C4-style URL density signals per document: URL count, fraction of
    characters inside URLs, distinct-domain count and the lexicographically
    first domain (deterministic, never "most frequent" — tie-free).

    Boilerplate/link-farm pages carry high URL character density; corpus
    builders drop above a threshold.  Stateless JVM regex per row, no
    shuffle — same scan shape as :func:`pii_scan`."""
    urls = F.regexp_extract_all("text", F.lit(URL_PATTERN), 0)
    doms = F.transform(
        urls, lambda u: F.regexp_extract(u, URL_DOMAIN_PATTERN, 1)
    )
    n_urls = F.size(urls)
    url_chars = F.aggregate(
        urls, F.lit(0).cast("long"), lambda a, u: a + F.length(u)
    )
    return documents.select(
        "doc_id",
        n_urls.alias("n_urls"),
        url_chars.alias("url_chars"),
        _url_char_ratio_expr().alias("url_char_ratio"),
        F.size(F.array_distinct(doms)).alias("n_domains"),
        F.array_min(doms).alias("first_domain"),
    ).orderBy("doc_id")


def url_stats_sql(text_expr: str = "text") -> str:
    urls = f"regexp_extract_all({text_expr}, '{URL_PATTERN}')"
    doms = (
        f"list_transform({urls}, "
        f"u -> regexp_extract(u, '{URL_DOMAIN_PATTERN}', 1))"
    )
    return f"""
    WITH t AS (
        SELECT doc_id, {text_expr} AS txt, {urls} AS urls, {doms} AS doms
        FROM documents
    )
    SELECT doc_id,
           len(urls) AS n_urls,
           CAST(coalesce(list_sum(list_transform(urls, u -> length(u))), 0)
                AS BIGINT) AS url_chars,
           ROUND(CAST(coalesce(list_sum(list_transform(urls, u -> length(u))), 0)
                      AS BIGINT) / length(txt), 6) AS url_char_ratio,
           len(list_distinct(doms)) AS n_domains,
           list_min(doms) AS first_domain
    FROM t
    ORDER BY doc_id
    """


def top_words(documents: DataFrame, k: int = 20) -> DataFrame:
    """Corpus heavy hitters: the ``k`` most frequent tokens with exact
    counts and a deterministic (count desc, word asc) tie-break — the
    vocabulary/stop-word analysis pass.  One explode + map-side-combined
    groupBy; the final top-k is a single-partition sort of the (distinct
    words)-sized aggregate, never of the corpus."""
    return (
        documents.select(F.expr(f"explode({tokens_expr('text')}) AS word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(k)
    )


def top_words_sql(k: int = 20) -> str:
    return f"""
    SELECT word, COUNT(*) AS n
    FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
        FROM documents
    )
    GROUP BY word
    ORDER BY n DESC, word ASC
    LIMIT {k}
    """


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprint: min portable hash over word shingles (the
    winnowing 'rolling hash → min' scheme, oracle-exact)."""
    sh = documents.select(
        "doc_id", F.expr(f"explode({word_shingles_expr('text')}) AS shingle")
    )
    return (
        sh.groupBy("doc_id")
        .agg(F.expr(f"min({h32_expr('shingle')}) AS fingerprint"))
        .orderBy("doc_id")
    )


def doc_fingerprint_sql() -> str:
    return f"""
    WITH sh AS (
        SELECT doc_id, UNNEST({word_shingles_sql('text')}) AS shingle FROM documents
    )
    SELECT doc_id, MIN({h32_sql('shingle')}) AS fingerprint
    FROM sh GROUP BY doc_id ORDER BY doc_id
    """


# ------------------------------------------ unigram-LM quality (perplexity)

#: fixed-point scale for per-token negative log-probability (micro-nats)
NLL_MICRO = 1_000_000


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """CCNet-style language-model quality score (Wenzek et al. 2020): each
    document's mean negative log-probability under a unigram LM trained on
    the corpus itself — the perplexity-proxy filter a pretraining pipeline
    runs to rank/cut documents (high mean NLL = improbable token mix).

    Exactness contract: the ONLY floating-point step is one ``ln(cnt/total)``
    per *distinct vocabulary term*, snapped immediately to integer micro-nats
    (``round(-ln(p)·10⁶)``); every aggregation after that is exact-integer
    (sum / count / integer div), so results are independent of Spark's
    partial-aggregation order and hash-match the DuckDB oracle.  (A raw
    double SUM would be addition-order-dependent; ``ln`` itself can differ
    across libm implementations only in the last ulp ≈ 1e-16 relative, which
    moves the micro-nat rounding only if the true value sits within ~1e-9 of
    a .5 boundary — negligible, and a mismatch would surface at the gate.)

    Scale shape: token explode → vocab count (map-side combined — vocab ≪
    corpus); total via a 1-row agg crossJoin (broadcast by construction);
    the token→vocab scoring join shuffles on the token key (AQE broadcasts
    the vocab side when it fits); final per-doc agg partial-combines.  No
    UDFs, no collect."""
    toks = documents.select("doc_id", F.expr(f"explode({tokens_expr('text')}) AS tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(-F.log(F.col("cnt") / F.col("total")) * NLL_MICRO, 0)
        .cast("long")
        .alias("nll_micro"),
    )
    return (
        toks.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("nll_micro").alias("nll_micro_total"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "nll_micro_total",
            F.expr("nll_micro_total div n_tokens").alias("nll_micro_mean"),
        )
        .orderBy("doc_id")
    )


def unigram_logprob_sql() -> str:
    """DuckDB oracle for :func:`unigram_logprob` — same tokenization, same
    micro-nat snap before any sum, same truncating integer mean."""
    toks = "string_split_regex(trim(lower(text)), '\\s+')"
    return f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({toks}) AS tok FROM documents
    ),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
    lp AS (
        SELECT tok,
               CAST(ROUND(-ln(cnt / total) * {NLL_MICRO}, 0) AS BIGINT) AS nll_micro
        FROM vocab, tot
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(nll_micro) AS BIGINT) AS nll_micro_total,
           CAST(SUM(nll_micro) AS BIGINT) // COUNT(*) AS nll_micro_mean
    FROM toks JOIN lp USING (tok)
    GROUP BY doc_id
    ORDER BY doc_id
    """


# ------------------------------------------------ ranked full-text search

#: integer idf scale (ppm) — keeps every scoring step exact-integer so the
#: Spark plan and the DuckDB oracle hash-match bit-for-bit (a float BM25's
#: ``ln`` differs across libm implementations in the last ulp).
SEARCH_PPM = 1_000_000


def search_topk(documents: DataFrame, terms: list[str], k: int = 10) -> DataFrame:
    """Inverted-index ranked search: top-``k`` documents for a bag of query
    terms under an exact-integer tf·idf score.

    ``score = Σ_t tf(doc, t) · idf_ppm(t)`` with
    ``idf_ppm = (SEARCH_PPM · N) div df(t)`` — the BM25 idf's rank behavior
    (rarer term ⇒ bigger weight) in overflow-safe integer arithmetic
    (``10^6 · 10^10 docs ≪ 2^63``), so scores are cross-engine exact instead
    of libm-dependent.

    Scale shape: the term filter lands **before** any shuffle — only the
    query terms' postings leave the scan (at 100 TB the posting lists of a
    handful of terms, not the corpus, are what shuffles); tf is one
    partial-agg groupBy; df re-aggregates the (doc, term) table (never the
    raw tokens); N and the per-term idf table are broadcast.  The global
    top-k is ``ORDER BY … LIMIT k`` — Spark's TakeOrderedAndProject, a
    per-partition heap + driver merge of k·partitions rows, never a full
    sort.  Ties break on doc_id asc, so the k rows are deterministic.
    """
    from .util import spread

    tf = (
        spread(documents, "doc_id")
        .select("doc_id", F.expr(f"explode({tokens_expr('text')}) AS term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    return score_topk(tf, n_docs, k)


def score_topk(tf: DataFrame, n_docs: DataFrame, k: int) -> DataFrame:
    """Shared scoring tail of :func:`search_topk`: ``tf(doc_id, term, tf)``
    + a 1-row ``n_docs`` frame → exact-integer tf·idf top-k.  The persisted
    inverted index (text_index.py) reuses this so indexed and recompute
    answers are plan-for-plan value-identical."""
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf_ppm", F.expr(f"({SEARCH_PPM} * n_docs) div df"))
        .select("term", "idf_ppm")
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("idf_ppm")).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def search_topk_sql(terms: list[str], k: int = 10) -> str:
    quoted = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
    WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id,
                     UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS term
              FROM documents)
        WHERE term IN ({quoted})
        GROUP BY doc_id, term
    ),
    idf AS (
        SELECT term,
               ({SEARCH_PPM} * (SELECT COUNT(*) FROM documents)) // COUNT(*) AS idf_ppm
        FROM tf GROUP BY term
    )
    SELECT tf.doc_id,
           CAST(SUM(tf.tf * idf.idf_ppm) AS BIGINT) AS score,
           COUNT(*) AS n_terms_hit
    FROM tf JOIN idf USING (term)
    GROUP BY tf.doc_id
    ORDER BY score DESC, doc_id ASC
    LIMIT {k}
    """


# ---------------------------------------------------------------------------
# unicode normalization (round 5) — the corpus-cleaning step that makes
# composed and decomposed spellings of the same word deduplicate/tokenize
# identically ("café" as 4 codepoints vs 5).  There is no JVM SQL surface
# for Unicode normalization, so the kernel is the honest custom path: an
# Arrow-batched pandas UDF over unicodedata.normalize — stateless, no
# shuffle, column-pruned scan; at 100 TB it parallelizes embarrassingly.
# DuckDB's nfc_normalize implements the same canonical composition, so the
# operator carries a full value oracle (parity verified for decomposed
# latin sequences; both engines track the stable Unicode composition
# tables for these ranges).


def normalize_nfc(documents: DataFrame) -> DataFrame:
    """Per-document NFC normalization with change accounting: character
    counts before/after, whether normalization changed the text, and the
    normalized text itself (hash-compared at the gate)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(col: pd.Series) -> pd.Series:
        import unicodedata

        # NULL text propagates as NULL (SQL semantics, matching the
        # oracle's nfc_normalize) — a `t or ''` fallback here would report
        # n_chars_nfc=0 / text_nfc='' for NULL documents instead
        return col.map(
            lambda t: None if t is None else unicodedata.normalize("NFC", t)
        )

    d = documents.withColumn("text_nfc", nfc(F.col("text")))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length("text_nfc").cast("long").alias("n_chars_nfc"),
        (F.col("text_nfc") != F.col("text")).alias("changed"),
        "text_nfc",
    ).orderBy("doc_id")


def normalize_nfc_sql(text_expr: str = "text") -> str:
    return f"""
    SELECT doc_id,
           CAST(length({text_expr}) AS BIGINT) AS n_chars_raw,
           CAST(length(nfc_normalize({text_expr})) AS BIGINT) AS n_chars_nfc,
           nfc_normalize({text_expr}) <> {text_expr} AS changed,
           nfc_normalize({text_expr}) AS text_nfc
    FROM documents
    ORDER BY doc_id
    """

"""Deterministic corpus-curation sampling operators.

A 100-TB training-corpus build needs reproducible, cluster-order-independent
sampling: per-language rate adjustment (up/down-weighting strata toward a
target mix) and train/heldout splitting.  Both are pure stateless filters on
a portable hash of ``doc_id`` — no shuffle, no RNG state, no driver
coordination; the scan's column pruning keeps them to the id + stratum
columns, and the same integer arithmetic runs in DuckDB for value-exact
oracles.

Rates are expressed in parts-per-million integers so the threshold compare
is exact on both engines (no float rounding at the boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import h32_expr, h32_sql, tokens_expr

PPM = 1_000_000

# default per-language sampling rates (ppm): the usual "keep high-resource
# languages partially, rare languages fully" corpus mix
DEFAULT_RATES_PPM = {
    "en": 500_000,
    "de": 1_000_000,
    "fr": 250_000,
    "es": 250_000,
    "zh": 100_000,
}
DEFAULT_RATE_PPM = 200_000

# train/heldout/test split bands (ppm, cumulative): 98% / 1% / 1%
SPLIT_BANDS = [("train", 980_000), ("heldout", 990_000), ("test", PPM)]


def _ticket(salt: str):
    """Uniform ppm ticket from doc_id: portable md5 hash → [0, PPM)."""
    return F.expr(f"{h32_expr('cast(doc_id as string)', salt)} % {PPM}")


def _ticket_sql(salt: str) -> str:
    return f"{h32_sql('CAST(doc_id AS VARCHAR)', salt)} % {PPM}"


def stratified_sample(
    documents: DataFrame,
    rates_ppm: dict[str, int] | None = None,
    default_ppm: int = DEFAULT_RATE_PPM,
) -> DataFrame:
    """Per-language deterministic Bernoulli sample: keep a doc iff its hash
    ticket falls below its stratum's ppm rate.  Membership depends only on
    (doc_id, lang) — re-running on any cluster layout keeps the same docs."""
    rates = DEFAULT_RATES_PPM if rates_ppm is None else rates_ppm
    rate = None
    for lang, ppm in sorted(rates.items()):
        branch = (F.col("lang") == lang, F.lit(ppm))
        rate = F.when(*branch) if rate is None else rate.when(*branch)
    rate = F.lit(default_ppm) if rate is None else rate.otherwise(F.lit(default_ppm))
    return (
        documents.withColumn("ticket", _ticket("sample"))
        .filter(F.col("ticket") < rate)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def stratified_sample_sql(
    rates_ppm: dict[str, int] | None = None,
    default_ppm: int = DEFAULT_RATE_PPM,
) -> str:
    rates = DEFAULT_RATES_PPM if rates_ppm is None else rates_ppm
    whens = " ".join(
        f"WHEN '{lang}' THEN {ppm}" for lang, ppm in sorted(rates.items())
    )
    case = f"CASE lang {whens} ELSE {default_ppm} END" if whens else str(default_ppm)
    return f"""
    WITH t AS (
        SELECT doc_id, lang, source, {_ticket_sql('sample')} AS ticket
        FROM documents
    )
    SELECT doc_id, lang, source FROM t
    WHERE ticket < {case}
    ORDER BY doc_id
    """


# largest target where target * PPM still fits int64 (2^63-1 ≈ 9.22e18);
# beyond it Spark would wrap silently (ANSI off) while DuckDB raises —
# fail loudly and identically on both engines instead
MAX_TARGET_TOKENS = 9_000_000_000_000


def mixture_weights(documents: DataFrame, target_tokens: int = 500) -> DataFrame:
    """Data-mixing weights: per source stream, the doc/token totals and the
    ppm keep-rate that downsamples the stream to ``target_tokens`` (capped
    at keep-all).  One hash-shuffle with map-side partial agg; exact integer
    arithmetic (`` * PPM div n_tokens``) so the oracle matches bit-for-bit."""
    if target_tokens > MAX_TARGET_TOKENS:
        raise ValueError(
            f"target_tokens > {MAX_TARGET_TOKENS}: target * {PPM} would "
            "overflow int64; split the budget across calls"
        )
    return (
        documents.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(f"cast(sum(size({tokens_expr('text')})) as bigint) AS n_tokens"),
        )
        .withColumn(
            "keep_ppm",
            F.least(
                F.lit(PPM).cast("long"),
                F.expr(f"CAST({target_tokens} AS BIGINT) * {PPM} div n_tokens"),
            ),
        )
        .orderBy("source")
    )


def mixture_weights_sql(target_tokens: int = 500) -> str:
    if target_tokens > MAX_TARGET_TOKENS:
        raise ValueError(f"target_tokens > {MAX_TARGET_TOKENS} overflows int64")
    toks = "string_split_regex(trim(lower(text)), '\\s+')"
    return f"""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len({toks})) AS BIGINT) AS n_tokens,
           LEAST(CAST({PPM} AS BIGINT),
                 (CAST({target_tokens} AS BIGINT) * {PPM}) // SUM(len({toks})))
               AS keep_ppm
    FROM documents
    GROUP BY source
    ORDER BY source
    """


def apply_mixture(documents: DataFrame, target_tokens: int = 500) -> DataFrame:
    """Downsample each source stream to its :func:`mixture_weights` rate by
    deterministic hash ticket.  The weights table is one row per source —
    broadcast-joined, so the apply step adds NO shuffle on the corpus side."""
    w = mixture_weights(documents, target_tokens).select("source", "keep_ppm")
    return (
        documents.join(F.broadcast(w), "source")
        .withColumn("ticket", _ticket("mix"))
        .filter(F.col("ticket") < F.col("keep_ppm"))
        .select("doc_id", "source", "keep_ppm")
        .orderBy("doc_id")
    )


def apply_mixture_sql(target_tokens: int = 500) -> str:
    return f"""
    WITH w AS ({mixture_weights_sql(target_tokens)}),
    t AS (
        SELECT doc_id, source, keep_ppm, {_ticket_sql('mix')} AS ticket
        FROM documents JOIN w USING (source)
    )
    SELECT doc_id, source, keep_ppm FROM t
    WHERE ticket < keep_ppm
    ORDER BY doc_id
    """


def split_expr():
    """The train/heldout/test band CASE as a reusable Column (shared by the
    batch :func:`corpus_split` and the streaming curation path)."""
    ticket = _ticket("split")
    split = None
    for name, hi in SPLIT_BANDS[:-1]:
        branch = (ticket < hi, F.lit(name))
        split = F.when(*branch) if split is None else split.when(*branch)
    return split.otherwise(F.lit(SPLIT_BANDS[-1][0]))


def corpus_split(documents: DataFrame) -> DataFrame:
    """Deterministic train/heldout/test assignment by hash band: every doc
    gets exactly one split, stable across runs and cluster layouts (the
    property a heldout set must have — a doc can never migrate into train).
    The split salt differs from the sampling salt so subsampling and
    splitting stay independent events."""
    return documents.select(
        "doc_id", "lang", split_expr().alias("split")
    ).orderBy("doc_id")


def corpus_split_sql() -> str:
    whens = " ".join(
        f"WHEN ticket < {hi} THEN '{name}'" for name, hi in SPLIT_BANDS[:-1]
    )
    return f"""
    WITH t AS (
        SELECT doc_id, lang, {_ticket_sql('split')} AS ticket FROM documents
    )
    SELECT doc_id, lang,
           CASE {whens} ELSE '{SPLIT_BANDS[-1][0]}' END AS split
    FROM t
    ORDER BY doc_id
    """


def topn_per_stratum(documents: DataFrame, n: int = 20) -> DataFrame:
    """Exact-size deterministic sample: the ``n`` documents per language
    stratum with the smallest hash tickets (doc_id tie-break) — the
    fixed-budget companion to :func:`stratified_sample`'s rate-based keep
    (eval sets, human-review batches and per-stratum debug slices want
    "exactly n", not "n in expectation").  Hash-ranked selection is a
    distributed reservoir sample with none of the sequential-scan state:
    membership depends only on (doc_id, lang), independent of cluster
    layout, and adding new docs can only displace ticket-larger members.

    Plan shape: rank = one window sort per stratum — a single hash shuffle
    on ``lang``, map-side pre-limited by WindowGroupLimit (each task keeps
    its local top-n per stratum before the exchange), so no stratum is ever
    materialized whole."""
    from pyspark.sql import Window

    t = documents.select("doc_id", "lang", _ticket("topn").alias("ticket"))
    w = Window.partitionBy("lang").orderBy(F.asc("ticket"), F.asc("doc_id"))
    return (
        t.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select("doc_id", "lang", "ticket", "rank")
        .orderBy("lang", "rank")
    )


def topn_per_stratum_sql(n: int = 20) -> str:
    return f"""
    WITH t AS (
        SELECT doc_id, lang, {_ticket_sql('topn')} AS ticket FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, ticket,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY ticket ASC, doc_id ASC) AS rank
        FROM t
    )
    SELECT doc_id, lang, ticket, rank FROM ranked
    WHERE rank <= {n}
    ORDER BY lang, rank
    """


# ------------------------------------------- DSIR importance resampling

#: hashed n-gram feature buckets for the DSIR importance model.  64 keeps the
#: distribution tables broadcast-trivial (two 64-row aggregates) while still
#: separating domains; raise for finer-grained targets — cost grows only in
#: the tiny score table, never in the corpus passes.
DSIR_BUCKETS = 64

#: fixed-point scale for log-importance scores (micro-nats), same contract as
#: textops.NLL_MICRO: floats are snapped to integers the moment they are
#: produced so every downstream sum/compare is exact and cross-engine stable.
DSIR_MICRO = 1_000_000

#: strict-open-interval uniform from the 32-bit hash: (h+1)/(2^32+1) ∈ (0,1),
#: so the Gumbel transform below never sees ln(0) even on the (certain, at
#: 10^9 docs) hash values 0 and 2^32-1.
_U32_P1 = 4_294_967_297


def dsir_weights(
    documents: DataFrame,
    target_lang: str = "en",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by how
    much more likely its hashed-token profile is under the *target* domain
    (here: the ``target_lang`` slice of the corpus itself) than under the
    raw corpus — the selection signal a pretraining pipeline uses to skim a
    web crawl toward a high-quality target distribution.

    Model: tokens hash into ``buckets`` feature buckets; the target and raw
    unigram bucket distributions are estimated with add-one smoothing; a
    document's log-importance weight is the sum over its token occurrences
    of ``ln(p_target[b]/p_raw[b])``.

    Exactness contract (the :func:`textops.unigram_logprob` pattern): the
    only float step is one ``ln`` pair per *bucket* (64 values), snapped
    immediately to integer micro-nats; per-document aggregation is then an
    exact integer sum — partial-agg-order independent, hash-identical to
    the DuckDB oracle.

    Scale shape: one explode pass feeds BOTH distributions (a single
    conditional aggregate on the bucket key — 64 groups, map-side combined
    to nothing); totals via a 1-row crossJoin broadcast; scoring joins the
    64-row table back broadcast, so the corpus is shuffled exactly once, on
    ``doc_id`` for the final sum.  Documents with no tokens carry no
    evidence and drop out (weight undefined, not zero)."""
    toks = documents.select(
        "doc_id", "lang", F.expr(f"explode({tokens_expr('text')}) AS tok")
    ).filter(F.col("tok") != "")
    b = toks.select(
        "doc_id", "lang", F.expr(f"{h32_expr('tok', 'dsir')} % {buckets} AS bucket")
    )
    dist = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_cnt"),
        F.sum(
            F.when(F.col("lang") == target_lang, F.lit(1)).otherwise(F.lit(0))
        ).alias("tgt_cnt"),
    )
    tot = dist.agg(
        F.sum("raw_cnt").alias("raw_tot"), F.sum("tgt_cnt").alias("tgt_tot")
    )
    scored = dist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("tgt_cnt") + 1) / (F.col("tgt_tot") + buckets))
                - F.log((F.col("raw_cnt") + 1) / (F.col("raw_tot") + buckets))
            )
            * DSIR_MICRO,
            0,
        )
        .cast("long")
        .alias("score_micro"),
    )
    return (
        b.join(F.broadcast(scored), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("score_micro").alias("weight_micro"),
        )
        .orderBy("doc_id")
    )


def _dsir_weights_sql_cte(target_lang: str, buckets: int) -> str:
    toks = "string_split_regex(trim(lower(text)), '\\s+')"
    return f"""
    toks AS (
        SELECT doc_id, lang, tok FROM (
            SELECT doc_id, lang, UNNEST({toks}) AS tok FROM documents
        ) WHERE tok <> ''
    ),
    b AS (
        SELECT doc_id, lang, {h32_sql('tok', 'dsir')} % {buckets} AS bucket
        FROM toks
    ),
    dist AS (
        SELECT bucket, COUNT(*) AS raw_cnt,
               SUM(CASE WHEN lang = '{target_lang}' THEN 1 ELSE 0 END) AS tgt_cnt
        FROM b GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(SUM(raw_cnt) AS BIGINT) AS raw_tot,
               CAST(SUM(tgt_cnt) AS BIGINT) AS tgt_tot
        FROM dist
    ),
    scored AS (
        SELECT bucket,
               CAST(ROUND((ln((tgt_cnt + 1) / (tgt_tot + {buckets}))
                           - ln((raw_cnt + 1) / (raw_tot + {buckets})))
                          * {DSIR_MICRO}, 0) AS BIGINT) AS score_micro
        FROM dist, tot
    ),
    w AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(score_micro) AS BIGINT) AS weight_micro
        FROM b JOIN scored USING (bucket)
        GROUP BY doc_id
    )"""


def dsir_weights_sql(
    target_lang: str = "en", buckets: int = DSIR_BUCKETS
) -> str:
    """DuckDB oracle for :func:`dsir_weights` — same tokenization, hash,
    smoothing and micro-nat snap order."""
    return f"""
    WITH {_dsir_weights_sql_cte(target_lang, buckets)}
    SELECT doc_id, n_tokens, weight_micro FROM w ORDER BY doc_id
    """


def dsir_resample(
    documents: DataFrame,
    target_lang: str = "en",
    k: int = 100,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR selection step: sample ``k`` documents proportionally to their
    importance weight ``exp(weight)`` via the Gumbel-top-k trick (Kool et
    al. 2019) — ``key = weight + Gumbel(0,1)``, take the k largest keys.
    The Gumbel noise comes from the portable doc_id hash (strict-interval
    uniform → ``-ln(-ln u)``), snapped to micro-nats like the weight, so
    the sample is a pure function of (corpus, target, k): reproducible
    across runs, clusters and engines, yet distributionally correct
    importance resampling rather than a deterministic top-k by weight
    (which would collapse the sample onto near-duplicate top documents —
    the failure mode DSIR's *sampling* explicitly avoids).

    Scale shape: everything up to the key is :func:`dsir_weights` (one
    corpus shuffle); the global top-k is ``ORDER BY … LIMIT k`` —
    TakeOrderedAndProject, a per-partition heap + driver merge of k rows,
    never a global sort; rank is then a window over the k survivors only."""
    from pyspark.sql import Window

    w = dsir_weights(documents, target_lang, buckets)
    u = F.expr(f"({h32_expr('cast(doc_id as string)', 'dsir-g')} + 1) / {_U32_P1}.0D")
    keyed = w.select(
        "doc_id",
        "n_tokens",
        "weight_micro",
        (F.round(-F.log(-F.log(u)) * DSIR_MICRO, 0).cast("long")).alias(
            "gumbel_micro"
        ),
    ).withColumn("key_micro", F.col("weight_micro") + F.col("gumbel_micro"))
    top = keyed.orderBy(F.desc("key_micro"), F.asc("doc_id")).limit(k)
    rank_w = Window.orderBy(F.desc("key_micro"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(rank_w))
        .select(
            "doc_id", "n_tokens", "weight_micro", "gumbel_micro",
            "key_micro", "rank",
        )
        .orderBy("rank")
    )


def dsir_resample_sql(
    target_lang: str = "en", k: int = 100, buckets: int = DSIR_BUCKETS
) -> str:
    """DuckDB oracle for :func:`dsir_resample`."""
    u = f"({h32_sql('CAST(doc_id AS VARCHAR)', 'dsir-g')} + 1) / {float(_U32_P1)}"
    return f"""
    WITH {_dsir_weights_sql_cte(target_lang, buckets)},
    keyed AS (
        SELECT doc_id, n_tokens, weight_micro,
               CAST(ROUND(-ln(-ln({u})) * {DSIR_MICRO}, 0) AS BIGINT)
                   AS gumbel_micro
        FROM w
    ),
    ranked AS (
        SELECT doc_id, n_tokens, weight_micro, gumbel_micro,
               weight_micro + gumbel_micro AS key_micro,
               ROW_NUMBER() OVER (ORDER BY weight_micro + gumbel_micro DESC,
                                  doc_id ASC) AS rank
        FROM keyed
    )
    SELECT doc_id, n_tokens, weight_micro, gumbel_micro, key_micro, rank
    FROM ranked WHERE rank <= {k}
    ORDER BY rank
    """


# --------------------------------------- temperature (p^alpha) resampling

def temperature_rates(documents: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Multilingual temperature resampling rates (the ``p^alpha`` schedule
    of multilingual-pretraining recipes, e.g. XLM-R): the resampled language
    distribution is ``q_l ∝ p_l^alpha``, which boosts low-resource languages
    and damps high-resource ones as ``alpha`` drops from 1 (no change)
    toward 0 (uniform).  Expressed as a pure-downsampling keep rate —
    ``r_l ∝ p_l^(alpha-1)`` normalized so the rarest language keeps
    everything (rate 1) and every other language keeps the fraction that
    reshapes the mix, with no replication.

    Exactness: the only float step is one ``pow`` per LANGUAGE, snapped to
    integer micro units on the per-lang aggregate (≤ #languages rows); the
    ppm rate is then an exact integer ``(PPM·a) div b`` so the keep
    threshold compares identically on both engines.

    Plan: one map-side-combined per-lang count, a 1-row max broadcast back
    — the corpus itself is scanned once and never shuffled."""
    counts = documents.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("n_total"))
    raw = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(
            F.pow(F.col("n_docs") / F.col("n_total"), F.lit(alpha - 1.0))
            * DSIR_MICRO,
            0,
        )
        .cast("long")
        .alias("boost_micro"),
    )
    mx = raw.agg(F.max("boost_micro").alias("max_micro"))
    return (
        raw.crossJoin(F.broadcast(mx))
        .select(
            "lang",
            "n_docs",
            F.expr(f"CAST({PPM} AS BIGINT) * boost_micro div max_micro")
            .alias("keep_ppm"),
        )
        .orderBy("lang")
    )


def _temperature_rates_sql_cte(alpha: float) -> str:
    return f"""
    counts AS (
        SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM counts),
    raw AS (
        SELECT lang, n_docs,
               CAST(ROUND(pow(n_docs / n_total, {alpha - 1.0}) * {DSIR_MICRO},
                          0) AS BIGINT) AS boost_micro
        FROM counts, tot
    ),
    mx AS (SELECT MAX(boost_micro) AS max_micro FROM raw),
    rates AS (
        SELECT lang, n_docs,
               (CAST({PPM} AS BIGINT) * boost_micro) // max_micro AS keep_ppm
        FROM raw, mx
    )"""


def temperature_rates_sql(alpha: float = 0.5) -> str:
    return f"""
    WITH {_temperature_rates_sql_cte(alpha)}
    SELECT lang, n_docs, keep_ppm FROM rates ORDER BY lang
    """


def temperature_sample(documents: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Apply :func:`temperature_rates`: keep a doc iff its hash ticket falls
    under its language's derived rate.  Same stateless-membership property
    as :func:`stratified_sample` — re-running on any layout keeps the same
    documents — but the rates come from the corpus itself, so the operator
    is a single self-contained "reshape the language mix" step."""
    rates = temperature_rates(documents, alpha).select("lang", "keep_ppm")
    return (
        documents.join(F.broadcast(rates), "lang")
        .withColumn("ticket", _ticket("temp"))
        .filter(F.col("ticket") < F.col("keep_ppm"))
        .select("doc_id", "lang", "keep_ppm")
        .orderBy("doc_id")
    )


def temperature_sample_sql(alpha: float = 0.5) -> str:
    return f"""
    WITH {_temperature_rates_sql_cte(alpha)},
    t AS (
        SELECT doc_id, d.lang AS lang, keep_ppm,
               {_ticket_sql('temp')} AS ticket
        FROM documents d JOIN rates USING (lang)
    )
    SELECT doc_id, lang, keep_ppm FROM t
    WHERE ticket < keep_ppm
    ORDER BY doc_id
    """

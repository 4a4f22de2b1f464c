"""BPE tokenizer: three independent derivations must agree.

1. imperative python (GPT-2-style left-to-right merge scan) — the reference
   semantics;
2. the Spark engine (closed-form merge application in JVM expressions);
3. the DuckDB recursive-CTE oracle (exercised at the driver gate; here the
   bpe_*_sql strings run directly against the same parquet).

The closed form (``eff[i] = cand[i] AND odd(i - last_non_candidate)``) is
additionally hypothesis-tested against the imperative scan on random symbol
lists — including ``aaa…`` runs, the only place the non-overlap alternation
actually bites.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from linked_maps_spark import bpe, relational

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# reference implementations


def imperative_merge(syms: list[str], l: str, r: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def closed_form_merge(syms: list[str], l: str, r: str) -> list[str]:
    """Python mirror of the exact formula both engines run."""
    n = len(syms)
    cand = [syms[i] == l and syms[i + 1] == r for i in range(n - 1)]
    eff = []
    for i in range(n - 1):  # 0-based here; engines are 1-based
        last_nc = max((j + 1 for j in range(i) if not cand[j]), default=0)
        eff.append(cand[i] and (i + 1 - last_nc) % 2 == 1)
    kept = [p for p in range(n) if p == 0 or not eff[p - 1]]
    return [l + r if p < n - 1 and eff[p] else syms[p] for p in kept]


def ref_bpe(word_freqs: dict[str, int], k: int):
    segs = {w: list(w) for w in word_freqs}
    merges = []
    for rank in range(k):
        counts: dict[tuple[str, str], int] = {}
        for w, f in word_freqs.items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, c))
        segs = {w: imperative_merge(s, l, r) for w, s in segs.items()}
    return merges, segs


# ---------------------------------------------------------------------------
# the closed form IS the imperative scan


@settings(max_examples=300, deadline=None)
@given(
    syms=st.lists(st.sampled_from(["a", "b", "ab", "ba", "c"]), min_size=1, max_size=12),
    pair=st.tuples(
        st.sampled_from(["a", "b", "ab", "ba", "c"]),
        st.sampled_from(["a", "b", "ab", "ba", "c"]),
    ),
)
def test_closed_form_merge_equals_imperative_scan(syms, pair):
    l, r = pair
    assert closed_form_merge(syms, l, r) == imperative_merge(syms, l, r)


def test_spark_merge_apply_matches_closed_form(spark):
    # adversarial fixtures: odd/even aaa runs (alternation), adjacent
    # disjoint candidates, merged-symbol lookalikes, single symbol, no-op
    cases = [
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a", "a"], "a", "a"),
        (["a", "b", "a", "b", "a", "b"], "a", "b"),
        (["b", "a", "b", "a"], "a", "b"),
        (["ab", "a", "b"], "a", "b"),
        (["x"], "a", "b"),
        (["q", "r"], "a", "b"),
        (["a", "b"], "a", "b"),
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)], "id int, syms array<string>"
    )
    for i, (syms, l, r) in enumerate(cases):
        got = (
            df.filter(F.col("id") == i)
            .select(bpe._apply_merge("syms", l, r).alias("m"))
            .collect()[0]["m"]
        )
        assert list(got) == imperative_merge(syms, l, r), (syms, l, r, got)


def test_spark_merge_symbols_independent_of_escaped_string_literals(spark):
    """A symbol holding a quote or a backslash must merge under both values
    of ``spark.sql.parser.escapedStringLiterals``, which changes how those
    two characters parse inside a SQL string literal."""
    key = "spark.sql.parser.escapedStringLiterals"
    cases = [
        (["it's", "x", "it's", "x"], "it's", "x"),
        (["a\\b", "a\\b", "a\\b"], "a\\b", "a\\b"),
        (["'", "\\", "''"], "'", "\\"),
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)], "id int, syms array<string>"
    )

    def run():
        return [
            list(
                df.filter(F.col("id") == i)
                .select(bpe._apply_merge("syms", l, r).alias("m"))
                .collect()[0]["m"]
            )
            for i, (_, l, r) in enumerate(cases)
        ]

    want = [imperative_merge(syms, l, r) for syms, l, r in cases]
    old = spark.conf.get(key)
    try:
        for value in ("false", "true"):
            spark.conf.set(key, value)
            assert run() == want, value
    finally:
        spark.conf.set(key, old)


# ---------------------------------------------------------------------------
# end-to-end three-way agreement on the corpus


@pytest.fixture(scope="module")
def corpus_truth():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    wf = dict(
        con.execute(
            "SELECT w, count(*) FROM (SELECT unnest(string_split(text,' ')) AS w"
            " FROM documents) WHERE w <> '' GROUP BY w"
        ).fetchall()
    )
    return con, wf


def test_bpe_training_three_way(spark, corpus_truth):
    con, wf = corpus_truth
    k = 12
    docs = relational.load(spark, SF, "documents")
    merges_df, seg = bpe.train_bpe(docs, k=k)
    spark_merges = [tuple(r) for r in merges_df.orderBy("merge_rank").collect()]
    ref_merges, ref_segs = ref_bpe(wf, k)
    assert spark_merges == ref_merges
    assert {r["word"]: list(r["syms"]) for r in seg.collect()} == ref_segs
    duck_merges = [tuple(r) for r in con.execute(bpe.bpe_merges_sql(k)).fetchall()]
    assert duck_merges == ref_merges

    tok = bpe.encode(docs, seg)
    spark_tok = [(r["doc_id"], r["n_tokens"], r["tokens"]) for r in tok.collect()]
    duck_tok = [tuple(r) for r in con.execute(bpe.bpe_tokens_sql(k)).fetchall()]
    assert spark_tok == duck_tok
    # tokenization is lossless: concatenating tokens restores the text
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for doc_id, _, tokens in spark_tok:
        assert tokens.replace(" ", "") == texts[doc_id].replace(" ", "")


def test_bpe_training_partitioning_invariant(spark):
    docs = relational.load(spark, SF, "documents")
    m1, _ = bpe.train_bpe(docs.repartition(7), k=6)
    m2, _ = bpe.train_bpe(docs.coalesce(1), k=6)
    assert [tuple(r) for r in m1.orderBy("merge_rank").collect()] == [
        tuple(r) for r in m2.orderBy("merge_rank").collect()
    ]


# ---------------------------------------------------------------------------
# vocab-scale trainers: every mode is BIT-IDENTICAL to the serial reference


word_dicts = st.dictionaries(
    st.text(alphabet="abc", min_size=1, max_size=6),
    st.integers(min_value=1, max_value=9),
    min_size=1,
    max_size=12,
)


@settings(max_examples=400, deadline=None)
@given(wf=word_dicts, k=st.integers(min_value=1, max_value=12))
def test_driver_trainer_equals_reference(wf, k):
    """The incremental-heap trainer (lazy-heap argmax, in-place pair-count
    updates) is the serial recount-everything reference, exactly."""
    ref_merges, ref_segs = ref_bpe(wf, k)
    types = sorted(wf.items())
    merges, segs = bpe._train_types(types, k)
    assert merges == ref_merges
    assert {w: s for w, _, s in segs} == ref_segs


def batched_bpe_mirror(wf: dict[str, int], k: int, top_m: int = 64):
    """Pure-python mirror of _batched_round + _select_batch +
    _apply_merges_udf — same counts, same bounds, same guard — so
    hypothesis can hammer the exactness proof without Spark in the loop."""
    segs = {w: list(w) for w in wf}
    merges = []
    rounds = 0
    while len(merges) < k:
        pc: dict[tuple[str, str], int] = {}
        tc: dict[tuple[str, str, str], int] = {}
        for w, f in wf.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + f
            for i in range(len(s) - 2):
                key3 = (s[i], s[i + 1], s[i + 2])
                tc[key3] = tc.get(key3, 0) + f
        if not pc:
            break
        rows = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:top_m]
        cand = []
        for (l, r), cnt in rows:
            n = l + r
            b1 = max((v for (a, b, _), v in tc.items() if (a, b) == (l, r)), default=0)
            b2 = max((v for (_, b, c), v in tc.items() if (b, c) == (l, r)), default=0)
            b3 = max((v for (a, _), v in pc.items() if a == n), default=0)
            b4 = max((v for (_, b), v in pc.items() if b == n), default=0)
            cand.append((l, r, cnt, max(b1 + b3, b2 + b4)))
        used: set[str] = set()
        accepted = []
        maxbound = 0
        for l, r, cnt, bound in cand:
            if accepted and (
                l in used or r in used or (l + r) in used
                or cnt <= 2 * maxbound
            ):
                break
            accepted.append((l, r, cnt))
            if len(accepted) >= k - len(merges):
                break
            used.update((l, r, l + r))
            maxbound = max(maxbound, bound)
        if not accepted:
            break
        for l, r, cnt in accepted:
            merges.append((len(merges), l, r, cnt))
            segs = {w: imperative_merge(s, l, r) for w, s in segs.items()}
        rounds += 1
    return merges, segs, rounds


@settings(max_examples=400, deadline=None)
@given(wf=word_dicts, k=st.integers(min_value=1, max_value=12))
def test_batched_guard_equals_reference(wf, k):
    """The guarded batch (rank-contiguous prefix, disjoint symbols, count
    strictly above every accepted pair's created-pair bound) never diverges
    from serial training — the proof in bpe.py, property-tested."""
    ref_merges, ref_segs = ref_bpe(wf, k)
    merges, segs, _ = batched_bpe_mirror(wf, k)
    assert merges == ref_merges
    assert segs == ref_segs


@settings(max_examples=400, deadline=None)
@given(
    wf=st.dictionaries(
        # two-letter alphabet + longer words + deeper merge budgets: merge
        # chains stack fast, so concatenation COLLISIONS (two candidate
        # merges producing the same symbol string, e.g. a|bb vs ab|b →
        # "abb") and two-sided created pairs occur routinely — the shapes
        # the tightened guard ((l+r) collision rejection + the 2×bound)
        # exists for
        st.text(alphabet="ab", min_size=1, max_size=8),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=10,
    ),
    k=st.integers(min_value=1, max_value=20),
)
def test_batched_guard_exact_under_concat_collisions(wf, k):
    ref_merges, ref_segs = ref_bpe(wf, k)
    merges, segs, _ = batched_bpe_mirror(wf, k)
    assert merges == ref_merges
    assert segs == ref_segs


def test_driver_trainer_non_bmp_tiebreak_matches_spark_order():
    """Spark orders strings by UTF-8 bytes ≡ code points (verified against
    a live session: U+E000 < U+FFFF < U+10000 < U+1F600), which is exactly
    Python's str ordering — so the driver trainer's heap tie-break agrees
    with the Spark argmax for supplementary-plane symbols too.  Pin the
    property on an emoji corpus with tied pair counts."""
    # tied pair counts where UTF-16 code-unit order would pick the OTHER
    # winner: (U+E000, a) vs (U+10000, a) both count 3 - code-point order
    # (Python == Spark UTF-8 byte order) breaks the tie to U+E000, while
    # UTF-16 code units would rank the surrogate-encoded U+10000 first
    wf = {"\ue000a": 3, "\U00010000a": 3, "\U0001F600b": 2}
    ref_merges, ref_segs = ref_bpe(wf, 3)
    merges, segs = bpe._train_types(sorted(wf.items()), 3)
    assert merges == ref_merges
    assert {w: s for w, _, s in segs} == ref_segs


@settings(max_examples=200, deadline=None)
@given(
    syms=st.lists(st.sampled_from(["a", "b", "ab", "c"]), min_size=0, max_size=10),
    pairs=st.lists(
        st.tuples(st.sampled_from(["a", "b", "ab", "c"]),
                  st.sampled_from(["a", "b", "ab", "c"])),
        min_size=0, max_size=5,
    ),
)
def test_merge_sequence_apply_matches_chained_imperative(syms, pairs):
    """The per-word python kernel inside _apply_merges_udf ≡ chaining the
    imperative scan once per merge in rank order."""
    expect = list(syms)
    for l, r in pairs:
        expect = imperative_merge(expect, l, r)
    # the UDF's inner function, extracted: same loop, same order
    s = list(syms)
    for l, r in pairs:
        if len(s) < 2:
            break
        new, out, i, n = l + r, [], 0, len(s)
        while i < n:
            if i < n - 1 and s[i] == l and s[i + 1] == r:
                out.append(new)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
    assert s == expect


def test_all_modes_bit_identical_on_corpus(spark, corpus_truth):
    """Spark-side: driver / serial / batched all reproduce
    the imperative reference on the real fixture corpus."""
    _, wf = corpus_truth
    k = 10
    ref_merges, ref_segs = ref_bpe(wf, k)
    docs = relational.load(spark, SF, "documents")
    for mode in ("driver", "serial", "batched"):
        merges_df, seg = bpe.train_bpe(docs, k=k, use_cache=False, mode=mode)
        got = [tuple(r) for r in merges_df.orderBy("merge_rank").collect()]
        assert got == ref_merges, mode
        assert {r["word"]: list(r["syms"]) for r in seg.collect()} == ref_segs, mode


def _rich_corpus(spark, n_docs=2000, words_per_doc=24, vocab=4000, seed=7):
    """Deterministic corpus with a REAL vocabulary (the parquet fixture has
    only 31 word types, exhausting BPE at 89 merges).  Words are base-26
    encodings of a Zipf-ranked multiplicative-hash sequence — thousands of
    types, ample merge capacity, fully reproducible."""
    import random

    rng = random.Random(seed)

    def word(rank: int) -> str:
        h = (rank * 2654435761 + seed) & 0xFFFFFFFF
        out = []
        for _ in range(4 + h % 5):
            out.append(chr(ord("a") + h % 26))
            h = (h * 1103515245 + 12345) & 0x7FFFFFFF
        return "".join(out)

    docs = []
    for d in range(n_docs):
        # Zipf-ish: rank ~ floor(vocab ** u) biases toward low ranks
        ws = [word(int(vocab ** rng.random())) for _ in range(words_per_doc)]
        docs.append((d, " ".join(ws)))
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_vocab_scale_1024_merges_few_jobs(spark):
    """THE vocab-scale criterion: 1,024 merges must not cost 1,024
    sequential Spark jobs.  The auto path (driver-resident type table, the
    way production tokenizers train) does ANY k in a handful of jobs —
    counted exactly via a job group."""
    docs = _rich_corpus(spark).localCheckpoint(eager=True)
    sc = spark.sparkContext
    sc.setJobGroup("bpe_vocab_scale", "train 1024 merges")
    try:
        merges_df, seg = bpe.train_bpe(docs, k=1024, use_cache=False)
        n_merges = merges_df.count()
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("bpe_vocab_scale")
        sc.setJobGroup(None, None)
    assert n_merges == 1024
    assert len(jobs) <= 20, f"1,024 merges cost {len(jobs)} Spark jobs"
    # and the merges are the exact serial-BPE merges (driver trainer is
    # hypothesis-pinned to the reference; spot-pin the corpus here too)
    types = sorted(
        (r["word"], int(r["freq"]))
        for r in bpe.word_types(docs).collect()
    )
    ref_merges, _ = bpe._train_types(types, 1024)
    got = [tuple(r) for r in merges_df.orderBy("merge_rank").collect()]
    assert got == ref_merges


def test_batched_beats_serial_rounds_and_stays_exact(spark):
    """The fully-distributed batched trainer (for type tables too big for
    the driver): one Spark job per ROUND, bit-identical to serial by the
    exactness guard.  On Zipf text the guard admits modest batches (the
    created-pair bound binds — measured ~1.5–3× fewer jobs than serial);
    assert it never does WORSE than serial and stays exact."""
    docs = _rich_corpus(spark, n_docs=400, vocab=600).localCheckpoint(eager=True)
    seg0 = (
        bpe.word_types(docs)
        .withColumn("syms", bpe._char_split())
        .localCheckpoint(eager=True)
    )
    k = 64
    rounds = 0
    merges: list = []
    seg = seg0
    while len(merges) < k:
        rows = bpe._batched_round(seg, bpe.BATCH_TOP_M)
        batch = bpe._select_batch(rows, k - len(merges))
        if not batch:
            break
        rounds += 1
        for l, r, cnt in batch:
            merges.append((len(merges), l, r, cnt))
        seg = seg.withColumn(
            "syms", bpe._apply_merges_udf([(l, r) for l, r, _ in batch])(F.col("syms"))
        ).localCheckpoint(eager=False)
    types = sorted(
        (r["word"], int(r["freq"])) for r in seg0.select("word", "freq").collect()
    )
    ref_merges, _ = bpe._train_types(types, k)
    assert merges == ref_merges
    assert len(merges) == k
    assert rounds < k, f"batching degenerated to serial: {rounds} rounds for {k}"


"""Fixture-pinned semantics for the round-5 final-session trio:
DPO-style preference pairs (sft.preference_pairs), embedding-level
benchmark decontamination (similarity.semantic_decontaminate) and
snapshot-PSI corpus drift (drift.corpus_drift). SQL-oracle parity over
real data is covered by test_spark_duckdb_parity; these pin the CONTRACT
on hand-built inputs where the expected output is computable by eye."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Row

from buildlogparser_spark.operators import drift, sft
from buildlogparser_spark.operators import similarity as sim

# Clearly-separated quality: GOOD has ≥5 tokens, many English stopwords,
# no punctuation; BAD gates to 0.0 (fewer than 5 tokens).
GOOD = "the cat and the dog went to the market and that is that"
BAD = "x!!! ;;; ..."
PROMPT = "please summarize the build failure"


def _conv(spark, rows):
    return spark.createDataFrame(
        [Row(conv_id=c, turn_idx=i, role=r, text=t) for c, i, r, t in rows])


def test_preference_pairs_best_vs_worst(spark):
    """Same prompt in three conversations; the duplicate response dedupes
    to one candidate, chosen = highest quality, rejected = lowest,
    single-candidate prompts are excluded."""
    t = _conv(spark, [
        ("a", 0, "user", PROMPT), ("a", 1, "assistant", GOOD),
        ("b", 0, "user", PROMPT), ("b", 1, "assistant", BAD),
        ("c", 0, "user", PROMPT), ("c", 1, "assistant", BAD),  # dup of b's
        ("d", 0, "user", "a prompt nobody repeats"),
        ("d", 1, "assistant", "lone response"),
    ])
    out = sft.preference_pairs(t).collect()
    assert len(out) == 1  # conv d's group has 1 candidate -> excluded
    r = out[0]
    assert r.prompt == PROMPT
    assert r.chosen == GOOD and r.rejected == BAD
    assert r.n_candidates == 2  # identical BAD responses deduped
    assert r.chosen_score > r.rejected_score == 0.0
    assert math.isclose(r.margin, r.chosen_score - r.rejected_score,
                        abs_tol=1e-9)


def test_preference_pairs_tie_breaks_on_response_text(spark):
    """All-tie group (every response gates to quality 0.0): chosen is the
    lexicographically SMALLEST response, rejected the largest, margin 0 —
    the documented total-order convention."""
    t = _conv(spark, [
        ("a", 0, "user", PROMPT), ("a", 1, "assistant", "bb tie"),
        ("b", 0, "user", PROMPT), ("b", 1, "assistant", "aa tie"),
        ("c", 0, "user", PROMPT), ("c", 1, "assistant", "cc tie"),
    ])
    out = sft.preference_pairs(t).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.chosen, r.rejected) == ("aa tie", "cc tie")
    assert r.margin == 0.0 and r.n_candidates == 3


def _emb(spark, rows):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in rows])


def test_semantic_decontaminate_flags_near_bench_vectors(spark):
    """vec 0 is the benchmark (0 % 97 == 0); vec 1 parallel to it is
    contaminated, vec 2 orthogonal and vec 3 anti-parallel are not."""
    e = _emb(spark, [
        (0, [1.0, 0.0]),
        (1, [2.0, 0.0]),    # cos = 1.0
        (2, [0.0, 3.0]),    # cos = 0.0
        (3, [-1.0, 0.0]),   # cos = -1.0
    ])
    out = {r.vec_id: r for r in sim.semantic_decontaminate(e).collect()}
    assert set(out) == {1, 2, 3}  # bench vector itself is not scored
    assert out[1].contaminated == 1 and out[1].max_bench_sim == 1.0
    assert out[2].contaminated == 0 and out[2].max_bench_sim == 0.0
    assert out[3].contaminated == 0 and out[3].max_bench_sim == -1.0


def test_semantic_decontaminate_empty_benchmark(spark):
    """No vec_id divisible by bench_mod: every corpus row survives with a
    NULL max sim and contaminated = 0 (deterministic, never an error)."""
    e = _emb(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    out = sim.semantic_decontaminate(e).collect()
    assert len(out) == 2
    assert all(r.max_bench_sim is None and r.contaminated == 0 for r in out)


def _half(doc_id: int) -> int:
    return int(hashlib.md5(f"drift{doc_id}".encode()).hexdigest()[:15],
               16) % 2


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text="t", lang=lang, source=src)
         for i, lang, src in rows])


def test_corpus_drift_identical_halves_psi_zero(spark):
    """Both md5 halves carry the same (lang, source) distribution → every
    smoothed p equals q and PSI is exactly 0 in every row."""
    zeros = [i for i in range(200) if _half(i) == 0][:4]
    ones = [i for i in range(200) if _half(i) == 1][:4]
    rows = ([(i, "en", "web") for i in zeros[:2]]
            + [(i, "de", "code") for i in zeros[2:]]
            + [(i, "en", "web") for i in ones[:2]]
            + [(i, "de", "code") for i in ones[2:]])
    out = drift.corpus_drift(_docs(spark, rows)).collect()
    assert {(r.dim, r.bin) for r in out} == {
        ("lang", "en"), ("lang", "de"), ("source", "web"), ("source", "code")}
    for r in out:
        assert r.ref_share == r.cur_share
        assert r.psi_term == 0.0 and r.psi_total == 0.0


def test_corpus_drift_matches_hand_computed_psi(spark):
    """A lang present only in the ref half: Laplace smoothing keeps the
    term finite and the value matches the formula computed by hand (same
    9-dp rounding discipline)."""
    zeros = [i for i in range(200) if _half(i) == 0][:3]
    ones = [i for i in range(200) if _half(i) == 1][:3]
    # ref half: 2×en 1×zh ; cur half: 3×en — zh exists only in ref
    rows = ([(zeros[0], "en", "s"), (zeros[1], "en", "s"),
             (zeros[2], "zh", "s")]
            + [(i, "en", "s") for i in ones])
    out = {(r.dim, r.bin): r
           for r in drift.corpus_drift(_docs(spark, rows)).collect()}

    def r9(x):
        return math.floor(x * 1e9 + 0.5) / 1e9

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def term(ref_n, cur_n, ref_tot, cur_tot, k):
        # exact shares; only the ln result and the term are 9-dp-rounded
        # (rounding the share collapses sub-5e-10 shares to ln(0) at the
        # operator's advertised scale — review finding)
        p = (ref_n + 1) / (ref_tot + k)
        q = (cur_n + 1) / (cur_tot + k)
        return p, q, r9((p - q) * r9(math.log(p / q)))

    p_en, q_en, t_en = term(2, 3, 3, 3, 2)
    p_zh, q_zh, t_zh = term(1, 0, 3, 3, 2)
    en, zh = out[("lang", "en")], out[("lang", "zh")]
    assert (en.ref_n, en.cur_n, zh.ref_n, zh.cur_n) == (2, 3, 1, 0)
    assert en.ref_share == r6(p_en) and en.cur_share == r6(q_en)
    assert en.psi_term == r6(t_en) and zh.psi_term == r6(t_zh)
    # exact sum of the terms' nano-units
    def nano(x):
        return math.floor(x * 1e9 + 0.5)

    assert en.psi_total == zh.psi_total == r6((nano(t_en) + nano(t_zh)) / 1e9)
    # the single-bin source dim is exactly balanced
    s = out[("source", "s")]
    assert s.psi_term == 0.0 and s.psi_total == 0.0


def test_corpus_drift_null_lang_and_source_bins(spark):
    """NULL lang lands in 'und', NULL source in 'unknown' (the
    unimax_weights convention) instead of vanishing from the histogram."""
    df = spark.createDataFrame(
        [(i, "t", None, None) for i in range(6)],
        "doc_id: long, text: string, lang: string, source: string")
    out = {(r.dim, r.bin) for r in drift.corpus_drift(df).collect()}
    assert out == {("lang", "und"), ("source", "unknown")}


# ---------------------------------------------------------------------------
# weighted sampling + token entropy (same final-session tranche)
# ---------------------------------------------------------------------------


def test_weighted_sample_matches_independent_recomputation(spark):
    """The A-ES draw replayed in pure Python (hashlib + math) over a small
    corpus must produce the identical top-k, weights and keys."""
    from buildlogparser_spark.operators import corpus_filters as cf
    from buildlogparser_spark.operators import textstats as ts

    docs = spark.createDataFrame(
        [(i, f"the cat and the dog number {i} went to the market "
             * ((i % 3) + 1)) for i in range(30)]
        + [(97, "x!"), (98, None)],  # weight 0 / NULL text: never sampled
        "doc_id: long, text: string")
    out = cf.weighted_sample(docs, k=5).collect()

    # independent recomputation: weights from the op's own quality column
    # (already fixture-pinned elsewhere), u and key from first principles
    weights = {r.doc_id: r.quality
               for r in ts.quality_score(docs).collect() if r.quality > 0}
    assert 97 not in weights and 98 not in weights

    def r9(x):
        return math.floor(x * 1e9 + 0.5) / 1e9

    keys = {}
    for did, w in weights.items():
        h = int(hashlib.md5(f"ws{did}".encode()).hexdigest()[:15], 16)
        u = (h + 1) / float(1 << 60)
        keys[did] = r9(r9(math.log(u)) / w)
    expect = sorted(keys, key=lambda d: (-keys[d], d))[:5]
    assert [r.doc_id for r in out] == expect
    assert [r.rank for r in out] == [1, 2, 3, 4, 5]
    for r in out:
        assert r.weight == weights[r.doc_id]
        assert r.samp_key == math.floor(keys[r.doc_id] * 1e6 + 0.5) / 1e6


def test_weighted_sample_zero_weight_never_sampled(spark):
    """With k larger than the corpus, every positive-weight doc appears
    and every gated-to-zero doc does not — weight ≤ 0 is an exclusion,
    not just a low probability."""
    from buildlogparser_spark.operators import corpus_filters as cf

    docs = spark.createDataFrame(
        [(1, "the cat and the dog went to the market for food"),
         (2, "shrt"), (3, None)],
        "doc_id: long, text: string")
    out = cf.weighted_sample(docs, k=10).collect()
    assert [r.doc_id for r in out] == [1]


def test_token_entropy_hand_values(spark):
    """Uniform two-token doc = ln 2 (norm 1.0); constant doc = 0 (norm 0);
    empty/NULL docs emit the zero row; a 3:1 skewed doc matches the
    hand-evaluated formula under the op's rounding discipline."""
    from buildlogparser_spark.operators import textstats as ts

    docs = spark.createDataFrame(
        [(1, "aa bb aa bb"), (2, "aa aa aa"), (3, ""), (4, None),
         (5, "aa aa aa bb")],
        "doc_id: long, text: string")
    out = {r.doc_id: r for r in ts.token_entropy(docs).collect()}

    def r(x, p):
        return math.floor(x * 10 ** p + 0.5) / 10 ** p

    def term(p):  # ln of the exact share; round the ln and the term
        return r(p * r(math.log(p), 9), 9)

    ln2 = term(0.5) * 2
    assert out[1].n_tokens == 4 and out[1].n_distinct_tokens == 2
    assert out[1].entropy == r(-ln2, 6)
    assert out[1].norm_entropy == r(-ln2 / r(math.log(2.0), 9), 6)
    assert out[2].entropy == 0.0 and out[2].norm_entropy == 0.0
    for d in (3, 4):
        assert (out[d].n_tokens, out[d].n_distinct_tokens,
                out[d].entropy, out[d].norm_entropy) == (0, 0, 0.0, 0.0)
    assert out[5].entropy == r(-(term(0.75) + term(0.25)), 6)
    # skewed < uniform for the same distinct count
    assert out[5].entropy < out[1].entropy


def test_token_entropy_term_tiny_share(spark):
    """A share below 5e-10 (one token in 4e9) keeps a finite, negative
    term in both engines: ``ln`` takes the exact share, so the share is
    never rounded to 0 first (which gave NULL in Spark, -inf in DuckDB)."""
    import duckdb
    from pyspark.sql import functions as F

    from buildlogparser_spark.operators import textstats as ts

    c, n = 1, 4_000_000_000
    got = spark.createDataFrame([(c, n)], "c long, n long").select(
        ts.entropy_term(F.col("c"), F.col("n"))).first()[0]
    duck = duckdb.connect().execute(
        f"SELECT {ts.entropy_term_sql('c', 'n')} FROM "
        f"(SELECT CAST({c} AS BIGINT) AS c, CAST({n} AS BIGINT) AS n)"
    ).fetchone()[0]

    def r(x, p):
        return math.floor(x * 10 ** p + 0.5) / 10 ** p

    p = c / n
    assert p < 5e-10
    expect = r(p * r(math.log(p), 9), 9)
    assert got == duck == expect
    assert math.isfinite(expect) and expect < 0

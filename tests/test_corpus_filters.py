"""Fixture-based tests for the corpus-curation filters (corpus_filters.py).

The sf parity rows live in test_spark_duckdb_parity.py; these fixtures pin the
SEMANTICS on hand-built inputs where the expected values are computed by
eye — redaction counts, contamination flags, sampling determinism and
growth stability, and the Gopher repetition fractions."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from buildlogparser_spark.operators import corpus_filters as cf


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang=lang, source="s0", n_chars=len(t))
         for i, (t, lang) in enumerate(rows)])


def test_pii_redact_counts_and_order(spark):
    docs = _docs(spark, [
        ("mail me at alice.smith+x@sub.example.org thanks", "en"),
        ("server 192.168.0.1 and 10.20.30.40 up", "en"),
        ("card 1234567890123456 pin 12345", "en"),  # only the 7+ run redacts
        ("bob@ex.co from 8.8.8.8 ref 99887766", "en"),  # one of each
        ("clean text, nothing here", "en"),
    ])
    out = {r.doc_id: r for r in cf.pii_redact(docs).collect()}
    assert out[0].n_emails == 1 and "<EMAIL>" in out[0].redacted_text
    assert "alice" not in out[0].redacted_text
    assert out[1].n_ipv4 == 2 and out[1].redacted_text.count("<IP>") == 2
    assert out[2].n_digit_runs == 1 and "12345" in out[2].redacted_text
    assert (out[3].n_emails, out[3].n_ipv4, out[3].n_digit_runs) == (1, 1, 1)
    assert out[3].redacted_text == "<EMAIL> from <IP> ref <NUM>"
    assert (out[4].n_emails, out[4].n_ipv4, out[4].n_digit_runs) == (0, 0, 0)
    assert out[4].redacted_text == "clean text, nothing here"


def test_pii_redact_no_double_count(spark):
    # digits inside an already-redacted email / IP must not count again as
    # digit runs: counts are taken on the progressively redacted text
    docs = _docs(spark, [("reach 12345678@example.com now", "en")])
    r = cf.pii_redact(docs).collect()[0]
    assert r.n_emails == 1
    assert r.n_digit_runs == 0
    assert r.redacted_text == "reach <EMAIL> now"


def test_decontaminate_flags_overlap(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        # doc_id 0 → benchmark (0 % 97 == 0)
        (f"{shared} benchmark tail words", "en"),
        # doc 1: contains the benchmark 8-gram → contaminated
        (f"prefix words {shared} suffix", "en"),
        # doc 2: disjoint vocabulary → clean
        ("one two three four five six seven eight nine ten", "en"),
        # doc 3: shares tokens but never 8 in a row → clean
        ("alpha beta gamma delta STOP epsilon zeta eta theta", "en"),
    ]
    out = {r.doc_id: r for r in cf.decontaminate(_docs(spark, rows)).collect()}
    assert set(out) == {1, 2, 3}  # benchmark doc excluded from the corpus
    assert out[1].contaminated and out[1].n_hit_shingles >= 1
    assert not out[2].contaminated and out[2].n_hit_shingles == 0
    assert not out[3].contaminated


def test_decontaminate_short_docs_do_not_crash(spark):
    # docs with fewer than k=8 tokens must yield empty shingle sets (like
    # the DuckDB twin), not abort the stage — Spark's sequence(1, 0)
    # descends to [1, 0] and slice(toks, 0, k) throws without the n >= k
    # gate in dedup.shingles()
    rows = [
        ("benchmark doc that has more than eight whole tokens inside", "en"),
        ("only three tokens", "en"),
        ("", "en"),
    ]
    out = {r.doc_id: r for r in cf.decontaminate(_docs(spark, rows)).collect()}
    assert set(out) == {1, 2}
    assert not out[1].contaminated and out[1].n_hit_shingles == 0
    assert not out[2].contaminated and out[2].n_hit_shingles == 0


def test_repetition_portable_round_cross_engine_case(spark):
    # 57/800 = 0.07125: decimal-string rounding (Spark round()) and scaled
    # binary-double rounding (DuckDB round()) land on opposite sides of
    # the half; the floor(x*1e4+0.5)/1e4 formulation is identical IEEE754
    # arithmetic in both engines and in Python
    import math

    text = " ".join(["tok"] * 57 + [f"w{i}" for i in range(743)])
    out = cf.repetition_stats(_docs(spark, [(text, "en")])).collect()[0]
    assert out.n_tokens == 800
    assert out.top_token_frac == math.floor(57 / 800 * 10_000 + 0.5) / 10_000
    assert out.distinct_ratio == math.floor(744 / 800 * 10_000 + 0.5) / 10_000


def test_corpus_sample_deterministic_and_growth_stable(spark):
    rows = [("word soup %d" % i, lang)
            for i, lang in enumerate(["en", "es", "de", "fr", "zh", "it"] * 40)]
    docs = _docs(spark, rows)
    first = {r.doc_id for r in cf.corpus_sample(docs).collect()}
    again = {r.doc_id for r in cf.corpus_sample(docs).collect()}
    assert first == again  # reproducible
    # growth stability: adding new docs never flips an existing decision
    grown = docs.union(_docs(spark, [("new doc", "en")]).withColumn(
        "doc_id", F.col("doc_id") + 10_000))
    after = {r.doc_id for r in cf.corpus_sample(grown).collect()}
    assert {d for d in after if d < 10_000} == first
    # en keeps everything (rate 10000 bp); unknown lang 'it' keeps ~10%
    langs = {r.doc_id: r.lang for r in docs.collect()}
    en_ids = {d for d, l in langs.items() if l == "en"}
    assert en_ids <= first
    it_kept = len({d for d in first if langs[d] == "it"})
    assert it_kept < 40 * 0.5  # well below the 50% tiers


def test_repetition_stats_fractions(spark):
    rows = [
        ("a a a b", "en"),       # top tok a: 3/4; bigram 'a a': 2/3; distinct 2/4
        ("x", "en"),             # single token: no bigrams
        ("", "en"),              # empty
        ("p q r s", "en"),       # all distinct
    ]
    out = {r.doc_id: r for r in cf.repetition_stats(_docs(spark, rows)).collect()}
    assert out[0].n_tokens == 4
    assert out[0].distinct_ratio == 0.5
    assert out[0].top_token_frac == 0.75
    assert out[0].top_bigram_frac == round(2 / 3, 4)
    assert out[1].n_tokens == 1 and out[1].top_bigram_frac == 0.0
    assert out[1].top_token_frac == 1.0
    assert out[2].n_tokens == 0
    assert (out[2].distinct_ratio, out[2].top_token_frac, out[2].top_bigram_frac) \
        == (0.0, 0.0, 0.0)
    assert out[3].distinct_ratio == 1.0 and out[3].top_token_frac == 0.25


def test_boilerplate_ngrams_and_stats(spark):
    rows = [
        ("the quick brown fox jumps", "en"),      # shares 'the quick brown'
        ("the quick brown dog sleeps", "en"),     # and 'quick brown' k=3 no
        ("the quick brown cat sits", "en"),       # 3 docs share the trigram
        ("totally different words here", "en"),   # clean
        ("a b", "en"),                            # < k tokens → 0 ngrams
    ]
    docs = _docs(spark, rows)
    flagged = {r.ngram: r.n_docs
               for r in cf.boilerplate_ngrams(docs, k=3, min_docs=3).collect()}
    assert flagged == {"the quick brown": 3}
    out = {r.doc_id: r
           for r in cf.boilerplate_stats(docs, k=3, min_docs=3).collect()}
    # docs 0-2: 3 distinct trigrams each, exactly 1 flagged
    for d in (0, 1, 2):
        assert out[d].n_ngrams == 3 and out[d].n_boiler == 1
        assert out[d].boiler_ratio == round(1 / 3, 4)
    assert out[3].n_ngrams == 2 and out[3].n_boiler == 0
    assert out[3].boiler_ratio == 0.0
    # short doc: no ngrams, ratio pinned to 0.0 (not null, not NaN)
    assert out[4].n_ngrams == 0 and out[4].n_boiler == 0
    assert out[4].boiler_ratio == 0.0


def test_boilerplate_repeated_ngram_counts_once_per_doc(spark):
    # the SAME trigram twice inside one doc is one occurrence for the
    # distinct-doc count (shingles are distinct-per-doc): 2 docs < min_docs=3
    docs = _docs(spark, [
        ("x y z x y z", "en"),   # 'x y z' appears twice in doc 0
        ("x y z other words", "en"),
    ])
    assert cf.boilerplate_ngrams(docs, k=3, min_docs=3).count() == 0
    flagged = {r.ngram: r.n_docs
               for r in cf.boilerplate_ngrams(docs, k=3, min_docs=2).collect()}
    assert flagged["x y z"] == 2


def test_sequence_pack_plan_offsets(spark):
    # one shard (n_shards=1) makes the packing order just doc_id order:
    # offsets are exact running token counts, sequences are 4-token chunks
    rows = [
        ("a b c", "en"),        # 3 toks: [0, 3) → seq 0
        ("d e f g", "en"),      # 4 toks: [3, 7) → seqs 0-1 (straddles)
        ("", "en"),             # 0 toks at offset 7 → first=last=seq 1
        ("h", "en"),            # 1 tok: [7, 8) → seq 1
    ]
    out = {r.doc_id: r for r in cf.sequence_pack_plan(
        _docs(spark, rows), seq_len=4, n_shards=1).collect()}
    assert (out[0].start_tok, out[0].first_seq, out[0].last_seq) == (0, 0, 0)
    assert (out[1].start_tok, out[1].first_seq, out[1].last_seq) == (3, 0, 1)
    assert (out[2].start_tok, out[2].first_seq, out[2].last_seq) == (7, 1, 1)
    assert (out[3].start_tok, out[3].first_seq, out[3].last_seq) == (7, 1, 1)
    assert all(r.shard == 0 for r in out.values())


def test_sequence_pack_plan_shard_independence(spark):
    # sharding partitions the docs; within each shard offsets are dense
    # (start_tok of the k-th doc = sum of tokens before it in ITS shard)
    rows = [("w%d x y" % i, "en") for i in range(40)]  # 3 toks each
    plan = cf.sequence_pack_plan(_docs(spark, rows), seq_len=8, n_shards=4)
    by_shard = {}
    for r in plan.collect():
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}  # 40 docs spread over all shards
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r.doc_id)
        expect = 0
        for r in docs:
            assert r.start_tok == expect, (shard, r)
            expect += r.n_tokens


def test_source_mix_weights_uniform_target(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=0, text="a b c d e f", lang="en", source="big", n_chars=11),
         Row(doc_id=1, text="g h", lang="en", source="small", n_chars=3)])
    out = {r.source: r for r in cf.source_mix_weights(docs).collect()}
    assert out["big"].n_tokens == 6 and out["small"].n_tokens == 2
    assert out["big"].token_share == 0.75 and out["small"].token_share == 0.25
    # uniform target = 1/2 each: big is over-represented → weight < 1
    assert out["big"].weight == round((0.5 / 0.75), 4)
    assert out["small"].weight == 2.0


def test_boilerplate_and_packing_survive_hot_document(spark):
    """One pathological 200k-token document must neither crash nor skew
    the explode-based operators: its n-gram explode is O(n) rows spread
    by the (ngram) shuffle key, and the packing window is per-shard, so
    the hot doc costs one long row, not a hot partition."""
    hot = " ".join(f"w{i % 997}" for i in range(200_000))
    rows = [(hot, "en")] + [("normal doc %d here" % i, "en") for i in range(20)]
    docs = _docs(spark, rows)
    stats = {r.doc_id: r for r in cf.boilerplate_stats(
        docs, k=3, min_docs=2).collect()}
    assert stats[0].n_ngrams > 0          # distinct trigrams of the hot doc
    assert len(stats) == 21
    plan = {r.doc_id: r for r in cf.sequence_pack_plan(
        docs, seq_len=2048, n_shards=4).collect()}
    assert plan[0].n_tokens == 200_000
    # the hot doc spans exactly ceil(200k/2048) = 98 sequences (ADVICE r04:
    # a previous `or`-fallback made this check unfailable); every other doc
    # spans exactly one
    assert plan[0].last_seq - plan[0].first_seq == (200_000 - 1) // 2048
    for d in range(1, 21):
        assert plan[d].last_seq - plan[d].first_seq == 0


def test_bpe_token_estimate_fixture(spark, duck_smoke):
    """Hand-computed GPT-2-pre-tokenizer BPE estimates, cross-engine.

    Pieces for "It's a test-case,  OK 1234567": ["It", "'s", " a", " test",
    "-", "case", ",", " ", " OK", " 1234567"] → ceil(len/6) each =
    1+1+1+1+1+1+1+1+1+2 = 11. Unicode letters ride \\p{L}: "héllo wörld"
    → ["héllo", " wörld"] = 1+1."""
    from buildlogparser_spark.operators.dedup import (
        bpe_token_estimate, bpe_tokens_sql)

    cases = [
        ("It's a test-case,  OK 1234567", 11),
        ("héllo wörld", 2),
        ("", 0),
        ("supercalifragilisticexpialidocious", 6),  # 34 chars → ceil/6
        # U+000B is whitespace in Java's \s but NOT RE2's — the explicit
        # whitespace class makes both engines call it "other": pieces
        # ["a", "\x0b\x0b", " b"] → 3
        ("a\x0b\x0b b", 3),
        # NULL-in-NULL-out: Spark's aggregate over a NULL pieces array is
        # NULL; the SQL twin's CASE guard must match (not coalesce to 0)
        (None, None),
    ]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, (t, _) in enumerate(cases)])
    got = {r.doc_id: r.n for r in docs.select(
        "doc_id", bpe_token_estimate(F.col("text")).alias("n")).collect()}
    assert got == {i: n for i, (t, n) in enumerate(cases)}

    duck_smoke.execute("CREATE OR REPLACE TEMP TABLE bpe_fix(doc_id INT, text VARCHAR)")
    duck_smoke.executemany("INSERT INTO bpe_fix VALUES (?, ?)",
                           [(i, t) for i, (t, _) in enumerate(cases)])
    duck = {int(r[0]): (None if r[1] is None else int(r[1]))
            for r in duck_smoke.execute(
        f"SELECT doc_id, {bpe_tokens_sql('text')} FROM bpe_fix"
    ).fetchall()}
    assert duck == got


def test_sequence_pack_plan_bpe_budget(spark):
    """tokenizer='bpe' budgets by the subword estimate: a doc of one long
    word (34 chars → 6 subwords) occupies 6 token slots, not 1."""
    rows = [("supercalifragilisticexpialidocious", "en"), ("a b c", "en")]
    plan = {r.doc_id: r for r in cf.sequence_pack_plan(
        _docs(spark, rows), seq_len=8, n_shards=1, tokenizer="bpe").collect()}
    by_start = sorted(plan.values(), key=lambda r: r.start_tok)
    assert {r.n_tokens for r in plan.values()} == {6, 3}
    assert by_start[1].start_tok == by_start[0].n_tokens


def test_sequence_pack_plan_rejects_unknown_tokenizer(spark):
    """A typo'd tokenizer name must raise, not silently fall through to
    whitespace counting (both the DataFrame op and its SQL twin)."""
    docs = _docs(spark, [("a b", "en")])
    with pytest.raises(ValueError, match="unknown tokenizer"):
        cf.sequence_pack_plan(docs, tokenizer="gpt2")
    with pytest.raises(ValueError, match="unknown tokenizer"):
        cf.sequence_pack_plan_sql(tokenizer="gpt2")


def _expected_split(doc_id, train_bp=8000, valid_bp=9000):
    import hashlib

    b = int(hashlib.md5(f"spl{doc_id}".encode()).hexdigest()[:15], 16) % 10_000
    return "train" if b < train_bp else ("valid" if b < valid_bp else "test")


def test_split_assign_deterministic_and_growth_stable(spark):
    """Pin the md5-bucket split against an independent hashlib recomputation
    and the growth-stability contract: adding documents never moves an
    existing one between splits."""
    ids = list(range(1, 201))
    docs = spark.createDataFrame([(i, f"doc {i}") for i in ids],
                                 "doc_id long, text string")
    got = {r.doc_id: r.split for r in cf.split_assign(docs).collect()}
    assert got == {i: _expected_split(i) for i in ids}
    # all three splits non-empty at n=200 under 80/10/10
    assert set(got.values()) == {"train", "valid", "test"}
    grown = spark.createDataFrame([(i, f"doc {i}") for i in range(1, 401)],
                                  "doc_id long, text string")
    regrown = {r.doc_id: r.split for r in cf.split_assign(grown).collect()}
    assert all(regrown[i] == got[i] for i in ids)


def test_split_leakage_flags_exactly_cross_split_dups(spark):
    """Hand-built corpus: eight exact-duplicate documents (identical MinHash
    signatures → every pair is an LSH candidate) plus two unique documents.
    Expected leakage = precisely the duplicate pairs whose hashlib-computed
    splits differ; unique docs never appear."""
    dup_ids = list(range(1, 9))
    dup_text = "the quick brown fox jumps over the lazy dog again today"
    rows = [(i, dup_text) for i in dup_ids] + [
        (100, "completely unrelated first singleton document text body"),
        (101, "another entirely different second singleton document text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): (r.split_a, r.split_b)
           for r in cf.split_leakage(docs).collect()}
    splits = {i: _expected_split(i) for i in dup_ids}
    want = {(a, b): (splits[a], splits[b])
            for a in dup_ids for b in dup_ids
            if a < b and splits[a] != splits[b]}
    assert got == want
    assert want, "fixture vacuous: every duplicate landed in one split"
    assert not any(100 in p or 101 in p for p in got)


def test_split_assign_rejects_inconsistent_rates(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="train_bp"):
        cf.split_assign(docs, train_bp=9000, valid_bp=8000)
    with pytest.raises(ValueError, match="train_bp"):
        cf.split_assign(docs, train_bp=8000, valid_bp=12000)


def _lang_docs(spark):
    def words(n, tag):
        return " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        (1, words(10, "a"), "aa"),
        (2, words(20, "b"), "bb"),
        (3, words(20, "c"), "bb"),
        (4, words(100, "d"), "cc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_unimax_waterfill_hand_fixture(spark):
    """Pin UniMax's closed-form waterfilling on hand-computed numbers:
    caps (epochs=2) = aa 20 / bb 80 / cc 200, budget = 150/2 = 75 →
    aa saturates at 20, the water level is (75-20)/2 = 27.5 for bb and
    cc, and the weights normalize over the budget."""
    got = {r.lang: r for r in cf.unimax_weights(_lang_docs(spark)).collect()}
    assert {(r.lang, r.n_tokens, r.cap_tokens) for r in got.values()} == {
        ("aa", 10, 20), ("bb", 40, 80), ("cc", 100, 200)}
    assert got["aa"].alloc_tokens == 20.0
    assert got["bb"].alloc_tokens == got["cc"].alloc_tokens == 27.5
    assert got["aa"].weight == round(20 / 75, 6)
    assert got["bb"].weight == got["cc"].weight == round(27.5 / 75, 6)
    assert abs(sum(r.weight for r in got.values()) - 1.0) < 1e-5


def test_unimax_budget_exceeds_caps(spark):
    """Budget above every epoch cap: all languages saturate and weights
    normalize over total capacity instead of the (unreachable) budget."""
    got = {r.lang: r for r in cf.unimax_weights(
        _lang_docs(spark), budget_num=10, budget_den=1).collect()}
    assert {r.lang: r.alloc_tokens for r in got.values()} == {
        "aa": 20.0, "bb": 80.0, "cc": 200.0}
    assert got["cc"].weight == round(200 / 300, 6)
    assert abs(sum(r.weight for r in got.values()) - 1.0) < 1e-5


def test_unimax_rejects_bad_params(spark):
    docs = _lang_docs(spark)
    with pytest.raises(ValueError, match="epochs"):
        cf.unimax_weights(docs, epochs=0)
    with pytest.raises(ValueError, match="budget"):
        cf.unimax_weights(docs, budget_den=0)


def test_unimax_null_lang_and_text(spark):
    """NULL lang folds into 'und' and NULL text counts zero tokens — in
    both engines (the graded-path NULL-robustness discipline applied to
    the folded op)."""
    import duckdb

    rows = [(1, "w1 w2 w3 w4", "aa"), (2, None, "aa"),
            (3, "x1 x2", None), (4, None, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.lang: r for r in cf.unimax_weights(docs).collect()}
    assert set(got) == {"aa", "und"}
    assert got["aa"].n_tokens == 4 and got["und"].n_tokens == 2
    con = duckdb.connect()
    con.execute("CREATE VIEW d AS SELECT * FROM (VALUES "
                "(1, 'w1 w2 w3 w4', 'aa'), (2, NULL, 'aa'), "
                "(3, 'x1 x2', NULL), (4, NULL, NULL)) t(doc_id, text, lang)")
    duck = {r[0]: r for r in con.execute(
        cf.unimax_weights_sql("d")).fetchall()}
    for lang in ("aa", "und"):
        s = got[lang]
        assert duck[lang] == (lang, s.n_tokens, s.cap_tokens,
                              s.alloc_tokens, s.weight)

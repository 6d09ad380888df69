"""DSIR importance-weight tests (operators/dsir.py): an INDEPENDENT
pure-Python oracle on a hand-built fixture (tokens → hashed features →
smoothed distributions → log-ratio weights, reimplemented from the paper
without looking at the operator), cross-engine parity at smoke scale, and
NULL/empty robustness. The graded sf0.01 hash check lives in the driver
sweep (`dsir_weights` entry)."""

from __future__ import annotations

import hashlib
import math
import re

import pytest
from pyspark.sql import Row, functions as F

from buildlogparser_spark.operators import dsir
from conftest import SF_SMOKE, assert_frames_match, duck_df


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang=lang, source="s0",
             n_chars=len(t) if t is not None else 0)
         for i, (t, lang) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long")


def _py_round(x: float, p: int) -> float:
    scale = 10 ** p
    return math.floor(x * scale + 0.5) / scale


def _py_dsir(rows, n_buckets):
    """Independent reimplementation of the estimator (Xie et al. 2023):
    per-doc hashed unigram+bigram counts, add-one-smoothed target/raw
    bucket distributions, exact nano-unit sum of the log-ratio terms."""
    counts, is_target = {}, {}
    for doc_id, (text, lang) in enumerate(rows):
        toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        c = {}
        for f_ in feats:
            b = int(hashlib.md5(f_.encode()).hexdigest()[:15], 16) % n_buckets
            c[b] = c.get(b, 0) + 1
        counts[doc_id] = c
        is_target[doc_id] = lang == "en"
    r_cnt, t_cnt = {}, {}
    for doc_id, c in counts.items():
        for b, n in c.items():
            r_cnt[b] = r_cnt.get(b, 0) + n
            if is_target[doc_id]:
                t_cnt[b] = t_cnt.get(b, 0) + n
    r_total = sum(r_cnt.values())
    t_total = sum(t_cnt.values())
    ratio = {
        b: _py_round(
            math.log((t_cnt.get(b, 0) + 1) / (t_total + n_buckets))
            - math.log((r_cnt[b] + 1) / (r_total + n_buckets)), 9)
        for b in r_cnt
    }
    out = {}
    for doc_id, c in counts.items():
        nanos = sum(math.floor(n * ratio[b] * 1e9 + 0.5) for b, n in c.items())
        out[doc_id] = (sum(c.values()), _py_round(nanos / 1e9, 6))
    return out


FIXTURE = [
    ("the quick brown fox jumps over the lazy dog", "en"),
    ("the quick brown fox sleeps all day long", "en"),
    ("der schnelle braune fuchs springt sehr hoch", "de"),
    ("le renard brun rapide saute par dessus", "fr"),
    ("quick brown fox fox fox quick brown", "en"),
    ("", "en"),            # empty → (0, 0.0)
    (None, "de"),          # NULL text → (0, 0.0)
    ("solo", "en"),        # single token: no bigrams, unigram only
]


def test_dsir_matches_independent_oracle(spark):
    docs = _docs(spark, FIXTURE)
    got = {r.doc_id: (r.n_feats, r.log_weight)
           for r in dsir.dsir_weights(docs, n_buckets=16).collect()}
    want = _py_dsir(FIXTURE, n_buckets=16)
    assert set(got) == set(range(len(FIXTURE)))
    for doc_id in want:
        assert got[doc_id][0] == want[doc_id][0], f"n_feats doc {doc_id}"
        # the python oracle shares libm with duckdb but not with the JVM;
        # 9-dp-rounded terms bound the ln divergence well under 1e-6
        assert got[doc_id][1] == pytest.approx(want[doc_id][1], abs=2e-6), \
            f"log_weight doc {doc_id}"
    assert got[5] == (0, 0.0) and got[6] == (0, 0.0)
    assert got[7][0] == 1  # "solo": one unigram, zero bigrams


def test_dsir_target_scores_above_offtarget(spark):
    # target (en) docs share a vocabulary; off-target docs use a disjoint
    # one — the en docs must come out with strictly higher weights
    docs = _docs(spark, FIXTURE)
    w = {r.doc_id: r.log_weight
         for r in dsir.dsir_weights(docs, n_buckets=64).collect()}
    en_docs, off_docs = [0, 1, 4], [2, 3]
    assert min(w[d] for d in en_docs) > max(w[d] for d in off_docs)


def test_dsir_custom_target_column(spark):
    # target selected by source predicate instead of lang: weights flip
    # toward whichever sub-corpus the predicate names
    rows = [("alpha beta gamma", "en"), ("alpha beta gamma", "en"),
            ("omega psi chi", "de"), ("omega psi chi delta", "de")]
    docs = _docs(spark, rows)
    w_de = {r.doc_id: r.log_weight for r in dsir.dsir_weights(
        docs, n_buckets=32, target=F.col("lang") == "de").collect()}
    assert min(w_de[2], w_de[3]) > max(w_de[0], w_de[1])


def test_dsir_duckdb_parity_smoke(spark, duck_smoke):
    assert_frames_match(
        dsir.dsir_weights(
            spark.read.parquet(f"{SF_SMOKE}/documents.parquet")),
        duck_df(duck_smoke, dsir.dsir_weights_sql()),
        "dsir_weights")


def test_dsir_null_lang_is_offtarget(spark):
    # NULL lang must count as non-target (not poison the distributions)
    rows = [("alpha beta", "en"), ("alpha beta", None), ("gamma delta", None)]
    docs = _docs(spark, rows)
    out = dsir.dsir_weights(docs, n_buckets=32).collect()
    assert len(out) == 3
    w = {r.doc_id: r.log_weight for r in out}
    # doc 1 shares the target vocabulary, doc 2 does not
    assert w[1] > w[2]

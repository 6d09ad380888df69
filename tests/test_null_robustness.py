"""NULL/adversarial-input robustness of the registered corpus + embedding
queries (graded and folded): both engines must agree over a clone of
sf0.001 whose documents table carries NULL / empty / whitespace-only text
rows and whose embeddings table carries a NULL embedding and a zero vector.

The graded parquet has no NULLs, so `test_spark_duckdb_parity` can never
exercise this class — and it is a real class: before this suite existed,
NULL text flipped `quality_score` 0.7-vs-1.0 (each engine's NULL-skipping
``least`` riding a differently-derived stop term), made `repetition_stats`
n_tokens NULL-vs-0 (floating the whole pandas column), and a NULL
embedding in the PQ training set flipped the trained codebooks between
engines. Contracts pinned here:

* NULL text scores as the EMPTY document in quality_score /
  repetition_stats; token_count / lang_id propagate NULL identically in
  both engines (NULL-in-NULL-out).
* NULL embeddings are DROPPED at `with_unit_vectors` / the `unitv` SQL
  CTEs — every similarity operator shares that single entry point.
* Zero-vector embeddings stay (unit copy = the zero vector itself).
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry_mod
from conftest import SF_SMOKE, assert_frames_match, duck_df

DOC_QUERIES = [
    "dedup_exact", "lsh_candidates", "near_dup_components",
    "simhash_near_pairs", "curated_corpus", "lang_id", "token_count",
    "quality_score", "pii_redact", "repetition_stats", "bigram_lm_score",
    "curation_pipeline", "lsh_dedup_keep", "decontaminate", "corpus_sample",
    "sequence_pack_plan", "source_mix_weights", "tfidf_top_terms",
    "dsir_weights", "c4_clean", "quality_classifier", "dup_span_removal",
]

EMB_QUERIES = [
    "cosine_topk", "semantic_dedup", "ivf_topk", "pq_topk", "ivfpq_topk",
    "semantic_dedup_representative",
]

DOC_ADVERSARIAL = [
    {"doc_id": 999001, "text": None, "lang": "en", "source": "web",
     "n_chars": None},
    {"doc_id": 999002, "text": "", "lang": "en", "source": "web",
     "n_chars": 0},
    {"doc_id": 999003, "text": None, "lang": None, "source": None,
     "n_chars": None},
    {"doc_id": 999004, "text": "   \n\t  ", "lang": "en", "source": "web",
     "n_chars": 7},
]

EMB_ADVERSARIAL = [
    {"vec_id": 999001, "embedding": None, "label": 0},
    {"vec_id": 999002, "embedding": [0.0] * 64, "label": 0},
]


@pytest.fixture(scope="module")
def null_sf():
    """sf0.001 clone with adversarial rows appended to documents +
    embeddings (other tables symlinked)."""
    tmp = Path(tempfile.mkdtemp(prefix="nullsf_"))
    inject = {"documents.parquet": DOC_ADVERSARIAL,
              "embeddings.parquet": EMB_ADVERSARIAL}
    for p in Path(SF_SMOKE).iterdir():
        if p.name not in inject:
            (tmp / p.name).symlink_to(p)
            continue
        t = pq.read_table(p)
        extra = pa.Table.from_pylist(inject[p.name], schema=pa.schema(
            [(f.name, f.type) for f in t.schema]))
        pq.write_table(pa.concat_tables([t, extra]), tmp / p.name)
    yield str(tmp)
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture(scope="module")
def null_duck(null_sf):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='8GB'")
    for t in ["events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{null_sf}/{t}.parquet')")
    return con


@pytest.mark.parametrize("name", DOC_QUERIES + EMB_QUERIES)
def test_null_input_parity(spark, null_sf, null_duck, name):
    e = entry_mod.registry()[name]
    assert_frames_match(e.run(spark, null_sf), duck_df(null_duck, e.sql),
                        f"null-robustness:{name}")


def test_null_embedding_rows_are_dropped(spark, null_sf):
    """The contract itself, not just parity: the NULL-embedding row is
    absent from per-vector outputs; the zero vector stays."""
    out = entry_mod.registry()["semantic_dedup"].run(spark, null_sf)
    ids = {r.vec_id for r in out.select("vec_id").collect()}
    assert 999001 not in ids
    assert 999002 in ids


def test_null_text_scores_as_empty(spark, null_sf):
    """NULL-text docs get the empty-document quality row (all zeros), not
    an engine-accident composite."""
    out = {r.doc_id: r for r in entry_mod.registry()["quality_score"].run(
        spark, null_sf).filter("doc_id >= 999001").collect()}
    for did in (999001, 999003):
        r = out[did]
        assert (r.n_chars_text, r.n_tokens, r.quality) == (0, 0, 0.0)

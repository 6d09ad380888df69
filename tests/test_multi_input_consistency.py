"""Multi-input consistency — the Spark analog of the reference's test that
the same text through StringInput/StringArrayInput/DataInput yields
identical results (BuildLogParserTests.swift:136-183): the same transcript
rows via (a) the derived view, (b) a parquet round-trip, (c) driver-side
createDataFrame, at different partition counts, must classify identically."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from buildlogparser_spark.operators.classify import classify
from buildlogparser_spark.transcripts import load_transcripts

KEY = ["conv_id", "turn_idx", "rule_id", "severity", "category", "message"]


def _counts(df):
    return {tuple(r) for r in df.groupBy("category").count().collect()}


def test_three_inputs_identical(spark, tmp_path):
    derived = load_transcripts(spark, SF_SMOKE)

    pq = str(tmp_path / "tr")
    derived.write.parquet(pq)
    roundtrip = spark.read.parquet(pq)

    local_rows = derived.collect()
    recreated = spark.createDataFrame(local_rows, derived.schema)

    a = classify(derived).select(*KEY)
    b = classify(roundtrip).select(*KEY)
    c = classify(recreated.repartition(13)).select(*KEY)

    assert _counts(a) == _counts(b) == _counts(c)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.exceptAll(c).count() == 0 and c.exceptAll(a).count() == 0


def test_shuffle_partition_invariance(spark):
    tr = load_transcripts(spark, SF_SMOKE)
    base = {tuple(r) for r in classify(tr).groupBy("severity").count().collect()}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        two = {tuple(r) for r in classify(tr).groupBy("severity").count().collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert base == two


def test_pack_explode_roundtrip_edge_cases(spark):
    """StringInput semantics round-trip on adversarial shapes: blank lines
    (also consecutive and page-final), pages shorter than page_size,
    conversations of 1 turn, unicode, leading/trailing whitespace."""
    from buildlogparser_spark.operators.lines import explode_lines, pack_pages

    convs = {
        "one": ["solo line"],
        "blanks": ["", "", "x", "", ""],
        "long": [f"line {i}" if i % 3 else "" for i in range(17)],
        "uni": ["  ⚠️ caret ^  ", "\ttab lead", "ünïcode"],
    }
    rows = [(c, i, t) for c, ls in convs.items() for i, t in enumerate(ls)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    for k in (1, 2, 16):
        back = explode_lines(pack_pages(df, page_size=k), page_size=k)
        got = {(r.conv_id, r.turn_idx): r.text for r in back.collect()}
        assert got == {(c, i): t for c, i, t in rows}, f"page_size={k}"


def test_read_log_files_matches_oracle_parse(spark, tmp_path):
    """End-to-end FileInput: write real log files (one per generated
    conversation, plus one invalid-UTF-8 file), read them back through the
    binary→validate→split source, and the compile-block assembly over the
    resulting line stream must equal the oracle parsing the same files —
    while the invalid file dead-letters (text IS NULL) instead of failing
    the job (the invalidEncoding analog, BuildLogParser.swift:65-67)."""
    from collections import Counter

    from buildlogparser_spark.datagen import gen_conversations
    from buildlogparser_spark.operators.assemble import compile_blocks
    from buildlogparser_spark.operators.lines import read_log_files
    from buildlogparser_spark.oracle import parse_lines_with_turns
    from buildlogparser_spark.rules.table import CompileErrorRule

    convs: dict[str, list[str]] = {}
    for conv_id, _i, _r, text, _tl, _ts in gen_conversations(99, 6):
        convs.setdefault(conv_id, []).append(text)
    logdir = tmp_path / "logs"
    logdir.mkdir()
    for cid, ls in convs.items():
        (logdir / f"{cid}.log").write_text("\n".join(ls), encoding="utf-8")
    (logdir / "broken.log").write_bytes(b"\xff\xfe broken \xff")

    stream = read_log_files(spark, str(logdir))
    dead = stream.filter(stream.text.isNull()).collect()
    assert len(dead) == 1 and dead[0].conv_id.endswith("broken.log")

    good = stream.filter(stream.text.isNotNull())
    got = Counter(
        (r.conv_id.rsplit("/", 1)[-1].removesuffix(".log"), r.start_turn_idx,
         r.severity, r.message, tuple(r.related_messages))
        for r in compile_blocks(good).collect())
    exp = Counter(
        (cid, t, d.severity, d.message, tuple(d.related_messages))
        for cid, ls in convs.items()
        for t, d in parse_lines_with_turns(
            ls, list(range(len(ls))), [CompileErrorRule()]))
    assert got == exp and sum(exp.values()) > 5

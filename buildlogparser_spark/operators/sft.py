"""Instruction-tuning pair extraction from conversation transcripts.

The canonical chat→SFT transform (public recipe across InstructGPT-style
pipelines, Ouyang et al. 2022; the OpenAssistant / chat-template data
preps): within each conversation, collapse runs of consecutive same-role
turns into one segment (a user often sends several messages before the
assistant answers), then emit every adjacent (user-segment →
assistant-segment) pair as one training example, with BPE-estimate token
counts so downstream packing (:func:`~.corpus_filters.sequence_pack_plan`)
can budget the pairs realistically.

Scale shape (10^12 turns): one ``row_number`` window partitioned by
(conv_id, role) for the gaps-and-islands run id, one hash-agg to collapse
segments (the per-segment text fold is a sorted in-group array, bounded by
segment length, never a whole-conversation window), one ``lead`` window
partitioned by conv_id over the already-collapsed segments (≤ #turns
rows). Everything is conversation-partitioned — no corpus-global order,
no skew beyond a hot conversation, which the same salting/chunking
machinery as assembly handles upstream.

Determinism: segment text is folded via ``sort_array(collect_list(
struct(turn_idx, text)))`` — struct order sorts on turn_idx first, which
is unique within (conv, role-run) — NOT an ordered collect_list (Spark
does not guarantee aggregation order); the DuckDB twin uses
``string_agg(... ORDER BY turn_idx)``.

Reference analog: none (the reference is a diagnostics parser); this is
the training-data-pipeline layer the driver brief asks for over the
transcript payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..rounding import portable_round, portable_round_sql
from .dedup import bpe_token_estimate, bpe_tokens_sql


def sft_pairs(transcripts: DataFrame) -> DataFrame:
    """(conv_id, prompt_turn_idx, response_turn_idx, prompt, response,
    n_prompt_bpe, n_response_bpe): adjacent user→assistant segment pairs.

    ``prompt_turn_idx`` / ``response_turn_idx`` are the first turn_idx of
    each collapsed segment; segment texts join their turns with ``\\n``.
    system/tool segments break adjacency by design — a user turn answered
    only after a tool interjection is NOT emitted as a pair (the
    interjection would silently vanish from the training example).
    """
    run_w = Window.partitionBy("conv_id", "role").orderBy("turn_idx")
    runs = transcripts.select(
        "conv_id", "turn_idx", "role", "text",
        (F.col("turn_idx") - F.row_number().over(run_w)).alias("grp"),
    )
    segs = (
        runs.groupBy("conv_id", "role", "grp")
        .agg(
            F.min("turn_idx").alias("seg_start"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("seg_text"),
        )
    )
    seg_w = Window.partitionBy("conv_id").orderBy("seg_start")
    paired = segs.select(
        "conv_id",
        "role",
        "seg_start",
        "seg_text",
        F.lead("role").over(seg_w).alias("next_role"),
        F.lead("seg_start").over(seg_w).alias("next_start"),
        F.lead("seg_text").over(seg_w).alias("next_text"),
    )
    return (
        paired.filter((F.col("role") == "user") & (F.col("next_role") == "assistant"))
        .select(
            "conv_id",
            F.col("seg_start").alias("prompt_turn_idx"),
            F.col("next_start").alias("response_turn_idx"),
            F.col("seg_text").alias("prompt"),
            F.col("next_text").alias("response"),
            bpe_token_estimate(F.col("seg_text")).alias("n_prompt_bpe"),
            bpe_token_estimate(F.col("next_text")).alias("n_response_bpe"),
        )
    )


def sft_pairs_sql(transcript_sql: str) -> str:
    """DuckDB twin: identical islands/collapse/lead chain; segment text via
    ``string_agg(text, chr(10) ORDER BY turn_idx)`` (DuckDB's ordered
    aggregate — the portable stand-in for the sorted-struct fold)."""
    return f"""
WITH t AS MATERIALIZED ({transcript_sql}),
runs AS (
  SELECT conv_id, turn_idx, role, text,
         turn_idx - row_number() OVER (
             PARTITION BY conv_id, role ORDER BY turn_idx) AS grp
  FROM t
),
segs AS (
  SELECT conv_id, role, grp,
         min(turn_idx) AS seg_start,
         -- coalesce: a segment whose turn texts are ALL NULL is '' on the
         -- Spark side (array_join skips null elements) but NULL from
         -- string_agg — align on '' (review finding; unreachable from the
         -- derived transcript corpus, reachable for the public operator)
         coalesce(string_agg(text, chr(10) ORDER BY turn_idx), '') AS seg_text
  FROM runs GROUP BY conv_id, role, grp
),
paired AS (
  SELECT conv_id, role, seg_start, seg_text,
         lead(role) OVER w AS next_role,
         lead(seg_start) OVER w AS next_start,
         lead(seg_text) OVER w AS next_text
  FROM segs
  WINDOW w AS (PARTITION BY conv_id ORDER BY seg_start)
)
SELECT conv_id,
       seg_start AS prompt_turn_idx,
       next_start AS response_turn_idx,
       seg_text AS prompt,
       next_text AS response,
       {bpe_tokens_sql('seg_text')} AS n_prompt_bpe,
       {bpe_tokens_sql('next_text')} AS n_response_bpe
FROM paired
WHERE role = 'user' AND next_role = 'assistant'
"""


def context_windows(transcripts: DataFrame, k: int = 4) -> DataFrame:
    """(conv_id, turn_idx, n_context_turns, context, target): for every
    assistant turn, the previous up-to-k turns rendered as
    ``role: text`` lines — the sliding-window context assembly step of an
    SFT / preference-data prep pipeline (each assistant turn becomes a
    training example conditioned on its recent dialogue history).

    Determinism: the frame is collected as structs and sort_array'd on
    turn_idx (unique within a conversation) before rendering —
    collect_list's frame order is an implementation detail Spark does not
    guarantee, so it is never relied on (the sft_pairs convention). NULL
    turn text renders as ``role: `` (coalesce ''), and an empty frame (the
    conversation's opening assistant turn) yields context '' with
    n_context_turns 0 in both engines.

    Scale shape (10^12 turns): ONE bounded-frame window partitioned by
    conv_id — k struct copies per row, no hash-agg, no join, no
    corpus-global order; context bytes are capped at k turns by
    construction, so a hot conversation costs rows×k, not rows², and the
    same upstream chunking/salting applies.
    """
    w = (Window.partitionBy("conv_id").orderBy("turn_idx")
         .rowsBetween(-k, -1))
    ctx = F.sort_array(
        F.collect_list(F.struct("turn_idx", "role", "text")).over(w))
    rendered = F.array_join(
        F.transform(
            F.col("ctx"),
            lambda s: F.concat_ws(
                "", s["role"], F.lit(": "), F.coalesce(s["text"], F.lit("")))),
        "\n")
    return (
        transcripts.select("conv_id", "turn_idx", "role", "text")
        .withColumn("ctx", ctx)
        .filter(F.col("role") == "assistant")
        .select(
            "conv_id", "turn_idx",
            F.size("ctx").cast("long").alias("n_context_turns"),
            rendered.alias("context"),
            F.coalesce(F.col("text"), F.lit("")).alias("target"),
        )
    )


def context_windows_sql(transcript_sql: str, k: int = 4) -> str:
    """DuckDB twin: ``list(struct_pack(...))`` over the same bounded frame
    (window aggregates over an empty frame are NULL in DuckDB where Spark
    yields [] — coalesce aligns them), list_sort, render, join."""
    return f"""
WITH t AS MATERIALIZED ({transcript_sql}),
win AS (
  SELECT conv_id, turn_idx, role, text,
         coalesce(
           list(struct_pack(turn_idx := turn_idx, role := role,
                            text := text))
             OVER (PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN {k} PRECEDING AND 1 PRECEDING),
           []) AS ctx
  FROM t
)
SELECT conv_id, turn_idx,
       CAST(len(ctx) AS BIGINT) AS n_context_turns,
       -- coalesce: DuckDB renders the empty-frame list as NULL where Spark's
       -- array_join of [] is '' — align on ''
       coalesce(array_to_string(
         list_transform(list_sort(ctx),
                        s -> s.role || ': ' || coalesce(s.text, '')),
         chr(10)), '') AS context,
       coalesce(text, '') AS target
FROM win
WHERE role = 'assistant'
"""


def preference_pairs(transcripts: DataFrame) -> DataFrame:
    """(prompt_key, prompt, chosen, rejected, chosen_score, rejected_score,
    margin, n_candidates): DPO-style preference pairs constructed from
    repeated prompts.

    DPO (Rafailov et al. 2023, "Direct Preference Optimization", public
    arXiv 2305.18290) consumes (prompt, chosen, rejected) triples; when no
    human ranking exists, the public recipe (Zephyr, Tunstall et al. 2023
    arXiv 2310.16944; UltraFeedback, Cui et al. 2023 arXiv 2310.01377)
    scores multiple responses to the SAME prompt and pairs best against
    worst. Here: :func:`sft_pairs` examples grouped by md5(prompt) —
    identical collapsed user segments recurring across the corpus — with
    identical response texts deduplicated to one candidate, ranked by the
    shared quality heuristic (:func:`~.textstats.quality_expr`, 4-dp
    portable-rounded). ``chosen`` = highest score, ``rejected`` = lowest;
    score ties break on the response text itself (binary string order,
    identical across engines for the ASCII corpus), which is a total order
    because candidates within a group have distinct texts by construction.
    Groups need ≥ 2 distinct responses; ``margin`` may be 0 (all-tie
    group) — callers filter on it for training.

    Scale shape (10^12 turns): one hash-agg on (prompt_key, response) to
    dedupe candidates, then windows partitioned by prompt_key over the
    DEDUPED candidate set — per-group cost is O(distinct responses to that
    prompt), never O(corpus). The md5 group key distributes prompts evenly;
    a viral prompt with millions of DISTINCT responses is the residual skew
    axis and would be capped upstream exactly like
    ``conversation_near_dups`` caps turns per conversation. The scored
    candidate set is snapshot-materialized before the best/worst diamond —
    without it Spark re-derives the whole sft_pairs window chain once per
    branch (plan audit: 2 full transcript scans; the repo-wide
    diamond-root defense, see curate/ccnet).

    Reference analog: none (the reference is a diagnostics parser); this is
    a driver-brief training-data op.
    """
    from .dedup import _md5_i64
    from .textstats import quality_expr

    cand = (
        sft_pairs(transcripts)
        .select(_md5_i64(F.col("prompt")).alias("prompt_key"),
                "prompt", "response")
        .groupBy("prompt_key", "response")
        .agg(F.min("prompt").alias("prompt"))
    )
    from ..materialize import materialize

    scored = materialize(
        cand.withColumn(
            "score", portable_round(quality_expr(F.col("response")), 4)))
    wp = Window.partitionBy("prompt_key")
    best_w = wp.orderBy(F.desc("score"), F.asc("response"))
    worst_w = wp.orderBy(F.asc("score"), F.desc("response"))
    ranked = (
        scored
        .withColumn("rk_best", F.row_number().over(best_w))
        .withColumn("rk_worst", F.row_number().over(worst_w))
        .withColumn("n_candidates", F.count("*").over(wp))
    )
    best = ranked.filter(
        (F.col("rk_best") == 1) & (F.col("n_candidates") >= 2)).select(
        "prompt_key", "prompt",
        F.col("response").alias("chosen"),
        F.col("score").alias("chosen_score"),
        "n_candidates")
    worst = ranked.filter(F.col("rk_worst") == 1).select(
        "prompt_key",
        F.col("response").alias("rejected"),
        F.col("score").alias("rejected_score"))
    return best.join(worst, "prompt_key").select(
        "prompt_key", "prompt", "chosen", "rejected",
        "chosen_score", "rejected_score",
        portable_round(
            F.col("chosen_score") - F.col("rejected_score"), 4).alias("margin"),
        F.col("n_candidates").cast("long").alias("n_candidates"))


def preference_pairs_sql(transcript_sql: str) -> str:
    """DuckDB twin: the sft_pairs chain nested as a CTE, the same
    (prompt_key, response) dedupe hash-agg, the shared quality CASE
    (:func:`~.textstats.quality_case_sql`), and the same two row_number
    rankings joined back at rank 1."""
    from .dedup import _md5_i64_sql
    from .textstats import quality_select_sql

    return f"""
WITH sft AS MATERIALIZED ({sft_pairs_sql(transcript_sql)}),
cand AS MATERIALIZED (
  SELECT {_md5_i64_sql('prompt')} AS prompt_key, response,
         min(prompt) AS prompt
  FROM sft GROUP BY 1, 2
),
scored AS (
  {quality_select_sql('cand', ['prompt_key', 'prompt', 'response'],
                      'response')}
),
ranked AS (
  SELECT prompt_key, prompt, response, score,
         row_number() OVER (PARTITION BY prompt_key
                            ORDER BY score DESC, response ASC) AS rk_best,
         row_number() OVER (PARTITION BY prompt_key
                            ORDER BY score ASC, response DESC) AS rk_worst,
         count(*) OVER (PARTITION BY prompt_key) AS n_cand
  FROM scored
)
SELECT b.prompt_key, b.prompt,
       b.response AS chosen, w.response AS rejected,
       b.score AS chosen_score, w.score AS rejected_score,
       {portable_round_sql('b.score - w.score', 4)} AS margin,
       CAST(b.n_cand AS BIGINT) AS n_candidates
FROM ranked b JOIN ranked w ON b.prompt_key = w.prompt_key
WHERE b.rk_best = 1 AND w.rk_worst = 1 AND b.n_cand >= 2
"""

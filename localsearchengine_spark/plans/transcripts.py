"""Multi-turn transcript operators (SURVEY.md §2 Part C, round 4).

The graft payload is *conversation transcripts* (BASELINE.json input_hint:
``conv_id, turn_idx, role, text, tool, ts``).  The engine rows (fts*) map
each document to a single-turn conversation so engine docIDs stay equal to
source doc_ids; the rows here exercise the genuinely multi-turn shape —
the conversation rollup every transcript pipeline starts with, and the
(context, response) pair extraction that turns raw transcripts into
supervised training examples.

Because the driver's oracle is DuckDB SQL over the same parquet, the
multi-turn table is DERIVED deterministically from ``documents`` with pure
integer arithmetic that both engines compute identically:

    conv_id  = 'conv%09d' % (doc_id // 5)     -- 5 consecutive docs = 1 conv
    turn_idx = doc_id % 5
    role     = turn 3 -> 'tool', even turn -> 'user', odd -> 'assistant'
    tool     = 'search' on tool turns else ''
    ts       = timestamp '2025-01-01 00:00:00' + doc_id * 7 seconds

so every decision (grouping, ordering, role, window frame) is
integer-exact and the per-turn text rides through unchanged (the north
rule's per-turn text-equality invariant: the window/rollup bodies hash
``text`` itself).

Scale notes (100 TB): both operators are a single hash aggregate or a
single conversation-partitioned window — one shuffle on conv_id, which a
production transcripts table would already be bucketed/partitioned by, so
the exchange elides under storage-aligned layout (see b28).  Context
assembly uses a bounded window frame (ROWS BETWEEN 3 PRECEDING AND 1
PRECEDING) — state per key is O(context window), never O(conversation).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from localsearchengine_spark.plans.registry import _t, q

_TURNS_PER_CONV = 5
_TS_BASE = "2025-01-01 00:00:00"
_TS_STRIDE_S = 7

# Shared derivation, DuckDB side (kept textually tiny so every oracle below
# inlines it as a CTE).
_TRANSCRIPTS_SQL = f"""
  SELECT 'conv' || lpad(CAST(doc_id // {_TURNS_PER_CONV} AS VARCHAR), 9, '0')
             AS conv_id,
         CAST(doc_id % {_TURNS_PER_CONV} AS INT) AS turn_idx,
         CASE WHEN doc_id % {_TURNS_PER_CONV} = 3 THEN 'tool'
              WHEN doc_id % 2 = 0 THEN 'user'
              ELSE 'assistant' END AS role,
         text,
         CASE WHEN doc_id % {_TURNS_PER_CONV} = 3 THEN 'search' ELSE '' END
             AS tool,
         TIMESTAMP '{_TS_BASE}' + to_seconds(doc_id * {_TS_STRIDE_S}) AS ts
  FROM documents
"""


def derived_transcripts(spark, sf_dir):
    """The Spark twin of ``_TRANSCRIPTS_SQL`` (same integer arithmetic)."""
    d = F.col("doc_id")
    turn = (d % _TURNS_PER_CONV).cast("int")
    return _t(spark, sf_dir, "documents").select(
        F.format_string(
            "conv%09d", F.floor(d / _TURNS_PER_CONV).cast("long")
        ).alias("conv_id"),
        turn.alias("turn_idx"),
        F.when(turn == 3, F.lit("tool"))
        .when(d % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.col("text"),
        F.when(turn == 3, F.lit("search")).otherwise(F.lit("")).alias("tool"),
        (
            F.to_timestamp(F.lit(_TS_BASE))
            + F.make_interval(secs=(d * _TS_STRIDE_S).cast("double"))
        ).alias("ts"),
    )


# ---------------------------------------------------------------------------
# TR1 — conversation rollup: the first aggregation every transcript
# pipeline runs (per-conversation shape/size/role-mix stats used for
# filtering, mixing, and cost estimation).  ONE hash aggregate on conv_id
# (map-side combined); min_by/max_by ride the unique turn_idx so no
# ordering ambiguity; the wall-clock span is integer epoch arithmetic.
# ---------------------------------------------------------------------------
_TR01_SQL = f"""
WITH t AS ({_TRANSCRIPTS_SQL})
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(*) FILTER (WHERE role = 'user') AS BIGINT) AS n_user,
       CAST(count(*) FILTER (WHERE role = 'assistant') AS BIGINT)
           AS n_assistant,
       CAST(count(*) FILTER (WHERE role = 'tool') AS BIGINT) AS n_tool,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       min_by(role, turn_idx) AS first_role,
       max_by(role, turn_idx) AS last_role,
       CAST(epoch(max(ts)) - epoch(min(ts)) AS BIGINT) AS span_seconds,
       md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS conv_text_hash
FROM t GROUP BY conv_id
"""


@q("tr01_conversation_stats", _TR01_SQL)
def tr01(spark, sf_dir):
    t = derived_transcripts(spark, sf_dir)
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count(F.when(F.col("role") == "user", 1)).alias("n_user"),
        F.count(F.when(F.col("role") == "assistant", 1)).alias("n_assistant"),
        F.count(F.when(F.col("role") == "tool", 1)).alias("n_tool"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
        F.sum(F.length("text")).alias("n_chars"),
        F.min_by("role", "turn_idx").alias("first_role"),
        F.max_by("role", "turn_idx").alias("last_role"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long")
        .alias("span_seconds"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("turn_idx", "text"))
                    ),
                    lambda s: s["text"],
                ),
                "\n",
            )
        ).alias("conv_text_hash"),
    )


# ---------------------------------------------------------------------------
# TR2 — (context, response) pair extraction: turn transcripts into
# supervised examples.  For every assistant turn, the context is the
# previous up-to-3 turns in order; both sides hash the assembled strings so
# the driver row pins per-turn text equality through the window.  The frame
# is bounded (ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING): state per
# conversation is O(window), so a 10^6-turn pathological conversation
# cannot blow an executor.  One conv-partitioned window = one shuffle,
# elided under conv-bucketed layout.
# ---------------------------------------------------------------------------
_CTX_TURNS = 3

_TR02_SQL = f"""
WITH t AS ({_TRANSCRIPTS_SQL}),
w AS (
  SELECT conv_id, turn_idx, role, text,
         COALESCE(array_to_string(
             list(text) OVER (PARTITION BY conv_id ORDER BY turn_idx
                              ROWS BETWEEN {_CTX_TURNS} PRECEDING
                                       AND 1 PRECEDING),
             chr(10)), '') AS context,
         CAST(count(*) OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS BETWEEN {_CTX_TURNS} PRECEDING
                                      AND 1 PRECEDING) AS INT)
             AS n_context_turns
  FROM t)
SELECT conv_id, turn_idx, n_context_turns,
       md5(context) AS context_hash,
       md5(text) AS response_hash,
       CAST(length(context) AS BIGINT) AS context_chars
FROM w WHERE role = 'assistant'
"""


@q("tr02_context_response_pairs", _TR02_SQL)
def tr02(spark, sf_dir):
    t = derived_transcripts(spark, sf_dir)
    frame = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-_CTX_TURNS, -1)
    )
    w = t.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.coalesce(
            F.array_join(F.collect_list("text").over(frame), "\n"), F.lit("")
        ).alias("context"),
        F.count(F.lit(1)).over(frame).cast("int").alias("n_context_turns"),
    )
    return w.filter(F.col("role") == "assistant").select(
        "conv_id",
        "turn_idx",
        "n_context_turns",
        F.md5("context").alias("context_hash"),
        F.md5("text").alias("response_hash"),
        F.length("context").cast("long").alias("context_chars"),
    )


# ---------------------------------------------------------------------------
# TR3 — end-to-end SFT dataset build: the composition row.  transcripts →
# (context, response) pairs (TR2) → quality gates (has context, response
# ≥ 5 tokens) → exact response dedup (keep the earliest (conv_id,
# turn_idx) per response hash — one window) → deterministic train/val/test
# assignment (samp03's md5-bucket scheme, keyed on conv_id so a
# conversation never straddles splits).  Every gate and the dedup/split
# decisions are integer/string-exact; the row proves the pipeline's
# operators COMPOSE into the artifact a training run actually consumes.
# Scale shape: one conv-partitioned window (TR2), one response_hash-
# partitioned window (dedup), per-row split arithmetic — two shuffles
# total, both on keys a production layout buckets by.
# ---------------------------------------------------------------------------
_MIN_RESP_TOKENS = 5

# split constants shared with samp03 (dependency-free module — see
# plans/splits.py for why they don't live in training_data)
from localsearchengine_spark.plans.splits import (  # noqa: E402
    SPLIT_BUCKETS as _SPLIT_BUCKETS,
    SPLIT_TEST as _SPLIT_TEST,
    SPLIT_VAL as _SPLIT_VAL,
)

_TR03_SQL = f"""
WITH t AS ({_TRANSCRIPTS_SQL}),
w AS (
  SELECT conv_id, turn_idx, role, text,
         COALESCE(array_to_string(
             list(text) OVER (PARTITION BY conv_id ORDER BY turn_idx
                              ROWS BETWEEN {_CTX_TURNS} PRECEDING
                                       AND 1 PRECEDING),
             chr(10)), '') AS context,
         CAST(count(*) OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS BETWEEN {_CTX_TURNS} PRECEDING
                                      AND 1 PRECEDING) AS INT)
             AS n_context_turns
  FROM t),
pairs AS (
  SELECT conv_id, turn_idx, md5(context) AS context_hash,
         md5(text) AS response_hash,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_response_tokens
  FROM w
  WHERE role = 'assistant' AND n_context_turns >= 1
    AND len(string_split(text, ' ')) >= {_MIN_RESP_TOKENS}),
dedup AS (
  SELECT * FROM (
    SELECT pairs.*,
           row_number() OVER (PARTITION BY response_hash
                              ORDER BY conv_id, turn_idx) AS rn
    FROM pairs) WHERE rn = 1)
SELECT conv_id, turn_idx, context_hash, response_hash, n_response_tokens,
       CASE WHEN b < {_SPLIT_VAL} THEN 'train'
            WHEN b < {_SPLIT_TEST} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT dedup.*,
             CAST(concat('0x', substring(md5(conv_id), 1, 15)) AS BIGINT)
                 % {_SPLIT_BUCKETS} AS b
      FROM dedup)
"""


@q("tr03_sft_dataset", _TR03_SQL)
def tr03(spark, sf_dir):
    t = derived_transcripts(spark, sf_dir)
    frame = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-_CTX_TURNS, -1)
    )
    w = t.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.coalesce(
            F.array_join(F.collect_list("text").over(frame), "\n"), F.lit("")
        ).alias("context"),
        F.count(F.lit(1)).over(frame).cast("int").alias("n_context_turns"),
    )
    pairs = w.filter(
        (F.col("role") == "assistant")
        & (F.col("n_context_turns") >= 1)
        & (F.size(F.split(F.col("text"), " ")) >= _MIN_RESP_TOKENS)
    ).select(
        "conv_id",
        "turn_idx",
        F.md5("context").alias("context_hash"),
        F.md5("text").alias("response_hash"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_response_tokens"),
    )
    dw = Window.partitionBy("response_hash").orderBy("conv_id", "turn_idx")
    dedup = (
        pairs.withColumn("rn", F.row_number().over(dw))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    b = (
        F.conv(F.substring(F.md5(F.col("conv_id")), 1, 15), 16, 10).cast("long")
        % _SPLIT_BUCKETS
    )
    return dedup.withColumn(
        "split",
        F.when(b < _SPLIT_VAL, F.lit("train"))
        .when(b < _SPLIT_TEST, F.lit("val"))
        .otherwise(F.lit("test")),
    )


# ---------------------------------------------------------------------------
# TR4 — turn-aligned context-window packing: split each conversation into
# training windows under a token budget, greedily and at TURN boundaries
# (never mid-turn — the transcript analogue of samp04's document packing,
# which is global and order-free; this one is per-conversation and
# order-DEPENDENT, the shape Spark's window functions cannot express
# because the running total RESETS at each chunk break).  Implemented as
# ``applyInPandas`` over conv_id groups — the canonical Spark escape hatch
# for per-key sequential state: one shuffle on conv_id (elided under
# conv-bucketed layout, see b28), state per key O(1) (chunk counter +
# running total), work per key O(turns).  The oracle computes the same
# greedy recurrence as a recursive CTE seeded at each conversation's
# min(turn_idx) and stepping turn_idx → turn_idx + 1; CONTIGUOUS turn
# indexes per conversation are a precondition of the recursive step (the
# engine's data-model contract — stable turn ordering with dense turn_idx;
# the kernel itself orders by turn_idx and needs no density).  The driver
# row proves the Python loop ≡ the declarative recurrence exactly
# (all-integer state).  Rule: the first turn opens chunk 0; a turn
# that would push the running total past the budget opens a new chunk
# (an oversized single turn gets a chunk of its own).
# ---------------------------------------------------------------------------
_TR04_BUDGET = 120  # tokens per packed window

_TR04_SQL = f"""
WITH RECURSIVE t AS (
  SELECT conv_id, turn_idx, CAST(len(string_split(text, ' ')) AS INT) AS tok
  FROM ({_TRANSCRIPTS_SQL})
),
seed AS (SELECT conv_id, min(turn_idx) AS t0 FROM t GROUP BY conv_id),
walk(conv_id, turn_idx, tok, chunk_id, cur) AS (
  SELECT t.conv_id, t.turn_idx, t.tok, CAST(0 AS INT), t.tok
  FROM t JOIN seed s ON t.conv_id = s.conv_id AND t.turn_idx = s.t0
  UNION ALL
  SELECT t.conv_id, t.turn_idx, t.tok,
         CAST(CASE WHEN w.cur + t.tok > {_TR04_BUDGET} THEN w.chunk_id + 1
              ELSE w.chunk_id END AS INT),
         CASE WHEN w.cur + t.tok > {_TR04_BUDGET} THEN t.tok
              ELSE w.cur + t.tok END
  FROM walk w JOIN t ON t.conv_id = w.conv_id AND t.turn_idx = w.turn_idx + 1
)
SELECT conv_id, turn_idx, tok, chunk_id FROM walk
"""


@q("tr04_context_window_packing", _TR04_SQL)
def tr04(spark, sf_dir):
    import pandas as pd

    t = derived_transcripts(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        F.size(F.split(F.col("text"), " ")).cast("int").alias("tok"),
    )

    budget = _TR04_BUDGET

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("turn_idx")
        chunk, cur, out = 0, 0, []
        for tok in pdf["tok"]:
            tok = int(tok)
            if cur > 0 and cur + tok > budget:
                chunk, cur = chunk + 1, tok
            else:
                cur += tok
            out.append(chunk)
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].to_numpy(),
                "turn_idx": pdf["turn_idx"].to_numpy(),
                "tok": pdf["tok"].to_numpy(),
                "chunk_id": pd.array(out, dtype="int32"),
            }
        )

    return t.groupBy("conv_id").applyInPandas(
        pack, "conv_id string, turn_idx int, tok int, chunk_id int"
    )


# ---------------------------------------------------------------------------
# TR5 — role-transition matrix: corpus-wide counts of consecutive-turn
# role pairs (user→assistant, assistant→tool, ...) — the conversation-flow
# diagnostic a transcript pipeline checks before trusting its role
# labeling (a spike in assistant→assistant means dropped user turns; any
# X→user after turn 0 outside the expected cadence means mis-threaded
# conversations).  ONE conv-partitioned lag window (bounded frame, state
# O(1) per key) feeding ONE tiny hash aggregate (≤ |roles|² = 9 keys,
# map-side combined) — all integer counts, no floats anywhere.
# ---------------------------------------------------------------------------
_TR05_SQL = f"""
WITH t AS ({_TRANSCRIPTS_SQL}),
p AS (
  SELECT conv_id, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM t)
SELECT prev_role, role AS next_role, CAST(count(*) AS BIGINT) AS n
FROM p WHERE prev_role IS NOT NULL
GROUP BY prev_role, role
"""


@q("tr05_role_transitions", _TR05_SQL)
def tr05(spark, sf_dir):
    t = derived_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        t.select("conv_id", "role", F.lag("role").over(w).alias("prev_role"))
        .filter(F.col("prev_role").isNotNull())
        .groupBy("prev_role", F.col("role").alias("next_role"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# TR6 — role-conditioned token statistics: per (conversation, role), turn
# count, total tokens, and mean tokens per turn — the balance check a
# transcript pipeline runs before training (a conversation whose assistant
# turns carry 10× the user tokens is a formatting bug or a data-quality
# outlier; per-role budgets also drive the tr04 packing and tr02 context
# limits).  ONE map-side-combined hash aggregate on (conv_id, role) — at
# production layout (conv-bucketed, b28) the exchange elides.  Counts and
# token sums are exact integers; the mean is the single float division of
# two identical integers, rounded — never a rank key.
# ---------------------------------------------------------------------------
_TR06_SQL = f"""
WITH t AS ({_TRANSCRIPTS_SQL})
SELECT conv_id, role,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
       round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*), 6)
         AS avg_tokens
FROM t GROUP BY conv_id, role
"""


@q("tr06_role_token_stats", _TR06_SQL)
def tr06(spark, sf_dir):
    t = derived_transcripts(spark, sf_dir)
    ntok = F.size(F.split(F.col("text"), " ")).cast("long")
    return (
        t.groupBy("conv_id", "role")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum(ntok).cast("long").alias("sum_tokens"),
        )
        .select(
            "conv_id",
            "role",
            "n_turns",
            "sum_tokens",
            F.round(F.col("sum_tokens").cast("double") / F.col("n_turns"), 6)
            .alias("avg_tokens"),
        )
    )

"""PP01 — the end-to-end pretraining-data pipeline composition row
(SURVEY.md §2 Part C): normalize → exact dedup → quality gates →
boilerplate filter → train/val/test split, in ONE driver row behind ONE
SQL oracle — the "can a user run their whole curation pipeline on this
engine" proof, the pretraining sibling of tr03's SFT build.

Stage order (the production order — each stage documented at its
single-operator row):

1. **normalize** (tx15 shape): casefold, collapse ``[ \\t]+`` runs, trim —
   so near-identical bytes dedup together.
2. **exact dedup** (dd01/dd08 convention): one survivor per md5(norm
   text), smallest doc_id wins.  Dedup runs FIRST so exact clones cannot
   inflate the line frequencies below.
3. **per-document quality gates** (tx08 shape, integer cross-multiplied —
   no float ever decides membership): token count in [{_PP_MIN_TOK},
   {_PP_MAX_TOK}]; duplicate-2-gram fraction < 0.1 as ``(n2 − d2)·10 <
   n2`` (empty-gram docs pass).
4. **boilerplate filter** (dd11/CCNet shape, made SCALE-PROPORTIONAL: a
   line is boilerplate when it occurs in ≥ 3 documents AND in > 4% of the
   deduped corpus — ``nd ≥ 3 AND nd·25 > n_docs`` — because any FIXED
   threshold silently flags everything once the corpus grows 10×, while a
   purely proportional rule degenerates on tiny corpora where 1 doc is
   already > 4%; the absolute floor is the CCNet-style minimum support);
   a doc drops when boilerplate lines exceed 30% of its lines
   (``nb·10 > n_lines·3``).
5. **split** (samp03 rule): md5-bucket of doc_id → 98/1/1 train/val/test.

Output: one row per SURVIVING doc — (doc_id, content_hash, n_tokens,
split).  On the clean driver corpus stages 1–2 are pass-through by
construction (already normalized, no exact dups), and the planted-defect
fixture test (tests/test_pipeline.py) proves every stage non-hollow: a
tab-mangled clone dedups against its original, an over-repetitive doc, a
too-short doc, and a boilerplate-flooded corpus each drop at exactly the
right gate.

Scale shape (100 TB): normalization and the gate statistics are per-row
Catalyst expressions (zero shuffle); dedup is one hash-keyed window (the
md5 shuffle key is 128-bit-uniform — no skew); the line-frequency pass is
one map-side-combined aggregate keyed by line (the dd11 hash-keyed
variant applies verbatim when line strings are long) with the boilerplate
set broadcast back; the split is a pure doc_id function.  Three shuffles
end-to-end, each on a key a production layout can pre-bucket.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from localsearchengine_spark.plans.registry import _t, q
from localsearchengine_spark.plans.splits import SPLIT_BUCKETS, SPLIT_TEST, SPLIT_VAL

_PP_MIN_TOK, _PP_MAX_TOK = 5, 1000
_PP_LINE_W = 2  # tokens per boilerplate "line" (dd11 convention)

_PP01_SQL = f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[ \t]+', ' ', 'g')) AS t
  FROM documents),
dedup AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, t,
           row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) AS rn
    FROM norm) WHERE rn = 1),
stats AS (
  SELECT doc_id, t,
         CAST(len(string_split(t, ' ')) AS BIGINT) AS ntok,
         CAST(len(string_split(t, ' ')) - 1 AS BIGINT) AS n2,
         CAST(CASE WHEN len(string_split(t, ' ')) >= 2 THEN
            len(list_distinct(list_transform(
              range(1, len(string_split(t, ' '))),
              i -> string_split(t, ' ')[i] || ' ' || string_split(t, ' ')[i+1])))
          ELSE 0 END AS BIGINT) AS d2
  FROM dedup),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM dedup),
lines AS (
  SELECT doc_id, unnest(list_transform(
      range(0, (len(string_split(t, ' ')) + {_PP_LINE_W} - 1) // {_PP_LINE_W}),
      i -> array_to_string(list_slice(string_split(t, ' '),
           i * {_PP_LINE_W} + 1, i * {_PP_LINE_W} + {_PP_LINE_W}), ' '))) AS line
  FROM dedup),
boiler AS (
  SELECT line FROM (SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
                    FROM lines GROUP BY line) CROSS JOIN n
  WHERE nd >= 3 AND nd * 25 > n_docs),
bf AS (
  SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS nb
  FROM lines l LEFT JOIN boiler b USING (line) GROUP BY l.doc_id)
SELECT s.doc_id, md5(s.t) AS content_hash, s.ntok AS n_tokens,
       CASE WHEN bkt < {SPLIT_VAL} THEN 'train'
            WHEN bkt < {SPLIT_TEST} THEN 'val' ELSE 'test' END AS split
FROM stats s JOIN bf USING (doc_id)
CROSS JOIN LATERAL (SELECT CAST(concat('0x',
    substring(md5(CAST(s.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
    % {SPLIT_BUCKETS} AS bkt) k
WHERE s.ntok BETWEEN {_PP_MIN_TOK} AND {_PP_MAX_TOK}
  AND (s.n2 <= 0 OR (s.n2 - s.d2) * 10 < s.n2)
  AND bf.nb * 10 <= bf.n_lines * 3
"""


@q("pp01_pretrain_pipeline", _PP01_SQL)
def pp01(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[ \t]+", " ")).alias("t"),
    )
    w = Window.partitionBy(F.md5("t")).orderBy("doc_id")
    dedup = (
        norm.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    toks = F.split(F.col("t"), " ")
    ntok = F.size(toks)
    grams2 = F.when(
        ntok >= 2,
        F.transform(
            F.sequence(F.lit(1), ntok - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_lines_c = F.floor((ntok + _PP_LINE_W - 1) / _PP_LINE_W).cast("int")
    lines_arr = F.transform(
        F.sequence(F.lit(0), n_lines_c - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * _PP_LINE_W + 1, _PP_LINE_W)),
    )
    stats = dedup.select(
        "doc_id",
        "t",
        ntok.cast("long").alias("ntok"),
        (ntok - 1).cast("long").alias("n2"),
        F.size(F.array_distinct(grams2)).cast("long").alias("d2"),
        lines_arr.alias("lines_arr"),
    )
    n_docs = dedup.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    lines = stats.select("doc_id", F.explode("lines_arr").alias("line"))
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").cast("long").alias("nd"))
        .crossJoin(F.broadcast(n_docs))
        .filter((F.col("nd") >= 3) & (F.col("nd") * 25 > F.col("n_docs")))
        .select("line")
    )
    bf = (
        lines.join(boiler, "line", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("nb"))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % SPLIT_BUCKETS
    )
    return (
        stats.join(bf, "doc_id", "left")
        .withColumn("nb", F.coalesce(F.col("nb"), F.lit(0)).cast("long"))
        .withColumn("n_lines", F.size("lines_arr").cast("long"))
        .filter(
            F.col("ntok").between(_PP_MIN_TOK, _PP_MAX_TOK)
            & ((F.col("n2") <= 0) | ((F.col("n2") - F.col("d2")) * 10 < F.col("n2")))
            & (F.col("nb") * 10 <= F.col("n_lines") * 3)
        )
        .select(
            "doc_id",
            F.md5("t").alias("content_hash"),
            F.col("ntok").alias("n_tokens"),
            F.when(bucket < SPLIT_VAL, F.lit("train"))
            .when(bucket < SPLIT_TEST, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )

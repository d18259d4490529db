"""Corpus-quality / repetition operators for training-data curation
(SURVEY.md §2 Part C extension, round 3): Gopher-style per-document
repetition metrics, cross-document duplicated-span detection, and corpus
bigram collocations.

Rationale (public lineage): Rae et al. 2021 (Gopher) filter web documents
on repetition statistics (duplicate-n-gram and top-token mass); Lee et al.
2022 ("Deduplicating Training Data Makes Language Models Better") remove
long spans that repeat across documents; collocation mining (PMI,
Church & Hanks 1990) is the standard first pass over a new corpus's token
statistics.  All three run over the driver's ``documents`` table with the
same plain space-split tokens as the rest of plans/training_data.py so the
DuckDB oracles stay in ANSI SQL.

Scale notes are per operator; the shared shape is: per-doc array math stays
inside whole-stage codegen (zero shuffle), and anything corpus-wide is ONE
hash aggregate on a key whose cardinality is bounded (vocabulary, n-grams)
with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from localsearchengine_spark.plans.registry import _t, q

_SPAN_W = 8  # duplicated-span width (tokens)


def _toks():
    return F.split(F.col("text"), " ")


def _grams_col(w: int):
    """All (positional, non-distinct) word ``w``-grams of the space-split
    token stream — pure Catalyst, no Python."""
    toks = _toks()
    n = F.size(toks)
    return F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(1), n - (w - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, w)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# TX08 — Gopher-style per-document repetition metrics:
#   * top_tok / top_tok_frac — the most frequent token (count desc, token
#     asc tie-break) and its share of the doc's tokens;
#   * dup_2gram_frac — fraction of 2-gram OCCURRENCES that are repeats of
#     an earlier identical 2-gram in the same doc.
# Shape for 100 TB: the 2-gram stats are per-row array expressions
# (size/array_distinct) — zero shuffle; the top-token stat is ONE
# explode → (doc_id, tok) hash aggregate with map-side combine, then a
# doc_id-partitioned window over ≤ vocabulary-per-doc rows.  (A per-doc
# higher-order-function argmax would avoid the shuffle but is O(tokens²)
# per doc — wrong trade at long documents.)
# ---------------------------------------------------------------------------
@q(
    "tx08_repetition_metrics",
    """WITH tc AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok),
    top AS (
      SELECT doc_id, tok AS top_tok, cnt AS top_cnt
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY cnt DESC, tok) AS rn FROM tc)
      WHERE rn = 1),
    g AS (
      SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 2
                  THEN list_transform(range(1, len(string_split(text, ' '))),
                       i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])
                  ELSE [] END AS grams,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents)
    SELECT g.doc_id, g.n_tokens, top.top_tok,
           round(top.top_cnt::DOUBLE / g.n_tokens, 6) AS top_tok_frac,
           CASE WHEN len(g.grams) > 0
                THEN round((len(g.grams) - len(list_distinct(g.grams)))::DOUBLE
                           / len(g.grams), 6)
                ELSE 0.0 END AS dup_2gram_frac
    FROM g JOIN top USING (doc_id)""",
)
def tx08(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(_toks()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("tok"))
    top = (
        tc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_tok"), F.col("cnt").alias("top_cnt"))
    )
    grams = _grams_col(2)
    per_doc = docs.select(
        "doc_id",
        F.size(_toks()).cast("long").alias("n_tokens"),
        F.size(grams).alias("n2"),
        F.size(F.array_distinct(grams)).alias("d2"),
    )
    return (
        per_doc.join(top, "doc_id")
        .select(
            "doc_id", "n_tokens", "top_tok",
            F.round(F.col("top_cnt") / F.col("n_tokens"), 6).alias("top_tok_frac"),
            F.when(
                F.col("n2") > 0,
                F.round((F.col("n2") - F.col("d2")) / F.col("n2"), 6),
            ).otherwise(F.lit(0.0)).alias("dup_2gram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# DD10 — cross-document duplicated spans (Lee et al. 2022 shape): a span is
# a word 8-gram; it is "duplicated" when the identical 8-gram occurs in ≥2
# distinct documents.  Per doc: span count, duplicated-span count, fraction.
# Shape for 100 TB (hash_grams=True, the default): the corpus-wide
# distinct/groupBy stages shuffle 64-bit xxhash64 gram keys — not the ~50+
# byte gram strings — and a string-equality VERIFY pass over only the
# flagged-hash subset keeps the result exact (a hash collision can only ADD
# a candidate; the verify re-counts distinct docs per gram STRING, so
# collisions are filtered, never merged).  The duplicated-gram set is a
# small fraction of all grams by construction (random text collides never;
# only true near-dups produce hits), so the verify input and the final
# semi-join build side stay bounded (AQE broadcasts them when small).
# n_spans is a per-row array size — the full gram stream is never shuffled
# by doc_id.  hash_grams=False keeps the plain string-key path for A/B.
# Docs with fewer than 8 tokens have no spans and are excluded (fraction
# undefined).
# ---------------------------------------------------------------------------
@q(
    "dd10_repeated_spans",
    f"""WITH g AS (
      SELECT doc_id, unnest(
        list_transform(range(1, len(string_split(text, ' ')) - {_SPAN_W - 2}),
          i -> array_to_string(string_split(text, ' ')[i:i+{_SPAN_W - 1}], ' '))
      ) AS gram
      FROM documents WHERE len(string_split(text, ' ')) >= {_SPAN_W}),
    dup AS (
      SELECT gram FROM (SELECT gram, doc_id FROM g GROUP BY gram, doc_id)
      GROUP BY gram HAVING count(*) >= 2)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(CASE WHEN dup.gram IS NOT NULL THEN 1 END) AS BIGINT)
             AS n_dup_spans,
           round(count(CASE WHEN dup.gram IS NOT NULL THEN 1 END)::DOUBLE
                 / count(*), 6) AS dup_span_frac
    FROM g LEFT JOIN dup ON g.gram = dup.gram
    GROUP BY g.doc_id""",
)
def dd10(spark, sf_dir, hash_grams: bool = True):
    docs = _t(spark, sf_dir, "documents")
    g = docs.select("doc_id", F.explode(_grams_col(_SPAN_W)).alias("gram"))
    if hash_grams:
        gh = g.withColumn("gh", F.xxhash64("gram"))
        cand = (
            gh.select("gh", "doc_id").distinct()
            .groupBy("gh")
            .agg(F.count(F.lit(1)).alias("nd"))
            .filter(F.col("nd") >= 2)
            .select("gh")
        )
        # verify: exact distinct-doc recount per gram STRING, flagged set only
        dup = (
            gh.join(cand, "gh", "left_semi")
            .select("gram", "doc_id").distinct()
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("nd"))
            .filter(F.col("nd") >= 2)
            .select("gram")
        )
    else:
        dup = (
            g.select("gram", "doc_id").distinct()
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("nd"))
            .filter(F.col("nd") >= 2)
            .select("gram")
        )
    base = docs.select(
        "doc_id", F.size(_grams_col(_SPAN_W)).cast("long").alias("n_spans")
    ).filter(F.col("n_spans") > 0)
    ndup = (
        g.join(dup, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("nd"))
    )
    return base.join(ndup, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce(F.col("nd"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.round(F.coalesce(F.col("nd"), F.lit(0)) / F.col("n_spans"), 6)
        .alias("dup_span_frac"),
    )


# ---------------------------------------------------------------------------
# TX11 — per-document TF-IDF keyword extraction: the top-5 terms of each
# doc.  RANK is decided by the integer-exact triple (tf desc, df asc, token
# asc) — a float tf·idf comparison must never decide a rank across engines —
# and the tf·idf itself (tf · ln(N/df)) rides along as a rounded value
# column.  Shape for 100 TB: tf is one explode → (doc, tok) hash aggregate
# (map-side combined); df is one aggregate over the same rows; the tf⋈df
# join is an equi join on the token (AQE picks broadcast while the
# vocabulary fits, sort-merge beyond); the ranking window partitions by
# doc_id — per-group size is the doc's vocabulary, never corpus-sized.
# ---------------------------------------------------------------------------
_KW_K = 5


@q(
    "tx11_tfidf_keywords",
    f"""WITH tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok),
    df AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df
      FROM (SELECT DISTINCT doc_id, tok FROM tf) GROUP BY tok),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT doc_id, CAST(rn AS BIGINT) AS rank, tok, tf, df,
           round(tf * ln(n_docs / df), 6) AS tfidf
    FROM (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
                 row_number() OVER (PARTITION BY tf.doc_id
                     ORDER BY tf.tf DESC, df.df ASC, tf.tok ASC) AS rn
          FROM tf JOIN df USING (tok))
    CROSS JOIN n WHERE rn <= {_KW_K}""",
)
def tx11(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.select(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(_toks()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("tok")
    )
    return (
        tf.join(df, "tok")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _KW_K)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "rank", "tok", "tf", "df",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
            .alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# TX10 — corpus bigram collocations: the 20 most frequent adjacent token
# pairs (count ≥ 10), with their PMI = ln(p(x,y) / (p(x)·p(y))) where
# p(x,y) = c_xy/T₂ over bigram occurrences and p(x) = c_x/T over token
# occurrences.  Ordering is by the INTEGER count (desc, then pair asc) so
# no float comparison decides a rank; PMI is a rounded value column.
# Shape for 100 TB: bigram counts are one hash aggregate (map-side
# combined); the unigram side is vocabulary-sized, so both joins broadcast.
# ---------------------------------------------------------------------------
_COLL_MIN, _COLL_K = 10, 20


@q(
    "tx10_collocations_pmi",
    f"""WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
    t AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks),
    bi AS (
      SELECT gram[1] AS w1, gram[2] AS w2, CAST(count(*) AS BIGINT) AS c_xy
      FROM (SELECT unnest(CASE WHEN len(string_split(text, ' ')) >= 2
                   THEN list_transform(range(1, len(string_split(text, ' '))),
                        i -> [string_split(text, ' ')[i], string_split(text, ' ')[i+1]])
                   ELSE [] END) AS gram
            FROM documents)
      GROUP BY 1, 2),
    t2 AS (SELECT CAST(sum(c_xy) AS DOUBLE) AS n2 FROM bi)
    SELECT w1, w2, c_xy,
           round(ln((bi.c_xy / t2.n2) / ((u1.c / t.n) * (u2.c / t.n))), 6) AS pmi
    FROM bi JOIN uni u1 ON bi.w1 = u1.tok
            JOIN uni u2 ON bi.w2 = u2.tok
            CROSS JOIN t CROSS JOIN t2
    WHERE c_xy >= {_COLL_MIN}
    ORDER BY c_xy DESC, w1, w2 LIMIT {_COLL_K}""",
)
def tx10(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_toks()).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    t = toks.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # bigrams as struct<w1,w2> directly — no concat-then-resplit round-trip
    toks_arr = _toks()
    n = F.size(toks_arr)
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(toks_arr, i).alias("w1"),
                F.element_at(toks_arr, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = (
        docs.select(F.explode(pairs).alias("g"))
        .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    t2 = bi.agg(F.sum("c_xy").cast("double").alias("n2"))
    return (
        bi.filter(F.col("c_xy") >= _COLL_MIN)
        .join(F.broadcast(uni.withColumnRenamed("tok", "w1")
                          .withColumnRenamed("c", "c1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("tok", "w2")
                          .withColumnRenamed("c", "c2")), "w2")
        .crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(t2))
        .select(
            "w1", "w2", "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy") / F.col("n2"))
                    / ((F.col("c1") / F.col("n")) * (F.col("c2") / F.col("n")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("c_xy"), "w1", "w2")
        .limit(_COLL_K)
    )


# ---------------------------------------------------------------------------
# TX14 — PII detection + redaction (the scrub every web-scale training
# pipeline runs before tokenization; the regex family follows the public
# BigCode/StarCoder PII pipeline and Dolma's email/IP/phone scrubbers).
# The synthetic corpus carries no PII, so the row deterministically
# injects one email, one IPv4 and one phone per document (pure functions
# of doc_id — both engines derive byte-identical inputs) and then
# detects + redacts them.  Patterns are kept in the RE2 ∩ Java-regex
# common subset (character classes, bounded repeats — no lookaround, no
# backreferences) so Spark (Java regex) and DuckDB (RE2) match
# identically; replacement is leftmost, all occurrences (Spark
# regexp_replace is global; DuckDB needs the explicit 'g' flag).
# Shape for 100 TB: pure per-row Catalyst string expressions — zero
# shuffle, zero Python; counts are computed on the pre-redaction text so
# they are independent of replacement order, and redaction applies
# email → IP → phone (the replacement tokens contain no digits or '@',
# so later passes cannot re-match earlier rewrites).
# ---------------------------------------------------------------------------
_PII_EMAIL = "[a-z0-9._]+@[a-z0-9.]+"
_PII_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
_PII_PHONE = "555-[0-9]{4}"


@q(
    "tx14_pii_redaction",
    f"""WITH pii AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.0.' || CAST((doc_id // 256) % 256 AS VARCHAR)
                  || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(
               t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
    FROM pii""",
)
def tx14(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"),
        F.lit("@example.com from 10."), (did % 256).cast("string"),
        F.lit(".0."), (F.floor(did / 256) % 256).cast("string"),
        F.lit(" call 555-"), F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"), _PII_IP, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), F.lit(0)))
            .cast("long").alias("n_email"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_IP), F.lit(0)))
            .cast("long").alias("n_ip"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_PHONE), F.lit(0)))
            .cast("long").alias("n_phone"),
        redacted.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# DD11 — line-frequency boilerplate detection (the CCNet / Dolma
# paragraph-dedup shape: a LINE that recurs across many documents is
# navigation chrome / legal footer, not content, and is dropped or
# down-weighted before training).  Here a "line" is a fixed 2-token
# window of the space-split stream (the synthetic corpus has no newlines;
# 2 tokens over its 31-word vocabulary makes cross-document recurrence
# real — production uses the newline split and a higher threshold), and a
# line is boilerplate when it occurs in ≥ {_DD11_T} distinct documents.
# Shape for 100 TB (hash_lines=True, the default — the dd10 gram-hash
# pattern): n_lines is a per-row array size (the line stream is never
# shuffled by doc_id for the count); the corpus-wide distinct-doc pass
# shuffles 64-bit xxhash64 line keys, not the line strings; hashes hitting
# the ≥T threshold are re-verified by an exact distinct-doc recount per
# line STRING over only the flagged subset (a collision can only ADD a
# candidate, never merge counts past the verify), so the result is exact;
# the boilerplate-line set is small by construction (most lines are not
# chrome), so the final per-doc count is a semi-join against a set AQE
# broadcasts.  hash_lines=False keeps the plain string-key path for A/B.
# ---------------------------------------------------------------------------
_DD11_L = 2   # tokens per line
_DD11_T = 20  # boilerplate threshold: ≥ T distinct docs


@q(
    "dd11_boilerplate_lines",
    f"""WITH lines AS (
      SELECT doc_id,
             unnest(list_transform(
                 range(0, (len(string_split(text, ' ')) + {_DD11_L} - 1) // {_DD11_L}),
                 i -> array_to_string(
                     list_slice(string_split(text, ' '),
                                i * {_DD11_L} + 1, i * {_DD11_L} + {_DD11_L}),
                     ' '))) AS line
      FROM documents),
    freq AS (SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS ndocs
             FROM lines GROUP BY line)
    SELECT l.doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN f.ndocs >= {_DD11_T} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler
    FROM lines l JOIN freq f USING (line)
    GROUP BY l.doc_id""",
)
def dd11(spark, sf_dir, hash_lines: bool = True):
    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    n_lines = F.floor((F.size(toks) + _DD11_L - 1) / _DD11_L).cast("int")
    lines_arr = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * _DD11_L + 1, _DD11_L)),
    )
    lines = docs.select("doc_id", F.explode(lines_arr).alias("line"))
    if hash_lines:
        lh = lines.withColumn("lh", F.xxhash64("line"))
        cand = (
            lh.select("lh", "doc_id").distinct()
            .groupBy("lh")
            .agg(F.count(F.lit(1)).alias("nd"))
            .filter(F.col("nd") >= _DD11_T)
            .select("lh")
        )
        # verify: exact distinct-doc recount per line STRING, flagged set only
        boiler = (
            lh.join(cand, "lh", "left_semi")
            .select("line", "doc_id").distinct()
            .groupBy("line")
            .agg(F.count(F.lit(1)).alias("nd"))
            .filter(F.col("nd") >= _DD11_T)
            .select("line")
        )
    else:
        boiler = (
            lines.select("line", "doc_id").distinct()
            .groupBy("line")
            .agg(F.count(F.lit(1)).alias("nd"))
            .filter(F.col("nd") >= _DD11_T)
            .select("line")
        )
    base = docs.select("doc_id", F.size(lines_arr).cast("long").alias("n_lines"))
    nboil = (
        lines.join(boiler, "line", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("nb"))
    )
    return base.join(nboil, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce(F.col("nb"), F.lit(0)).cast("long").alias("n_boiler"),
    )


# ---------------------------------------------------------------------------
# TX15 — text normalization (the canonicalization pass before hashing /
# dedup / tokenization: casefold, collapse runs of whitespace, trim —
# what C4/Dolma run so that "Foo  bar " and "foo bar" dedup together).
# The corpus is already clean, so the row deterministically un-normalizes
# first (uppercases the first 10 chars, wraps in tabs/double spaces —
# pure functions both engines compute identically) and then proves the
# normalizer restores a canonical form: n_chars_messy > n_chars_norm and
# norm(messy(text)) == norm(text) ride out as checkable columns.
# Shape for 100 TB: pure per-row Catalyst string expressions — zero
# shuffle, zero Python; the whitespace class is the RE2 ∩ Java common
# subset ([ \t] literally, not \s whose Unicode semantics differ).
# ---------------------------------------------------------------------------
@q(
    "tx15_text_normalize",
    """WITH messy AS (
      SELECT doc_id,
             chr(9) || ' ' || upper(substring(text, 1, 10))
                    || substring(text, 11) || '  ' || chr(9) AS m,
             text
      FROM documents),
    norm AS (
      SELECT doc_id, text,
             trim(regexp_replace(lower(m), '[ \t]+', ' ', 'g')) AS n_m,
             trim(regexp_replace(lower(text), '[ \t]+', ' ', 'g')) AS n_t,
             CAST(length(m) AS BIGINT) AS n_chars_messy
      FROM messy)
    SELECT doc_id, n_chars_messy,
           CAST(length(n_m) AS BIGINT) AS n_chars_norm,
           md5(n_m) AS norm_hash,
           CAST(CASE WHEN n_m = n_t THEN 1 ELSE 0 END AS BIGINT) AS idempotent
    FROM norm""",
)
def tx15(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    m = F.concat(
        F.lit("\t "),
        F.upper(F.substring(text, 1, 10)),
        F.expr("substring(text, 11)"),
        F.lit("  \t"),
    )

    def norm(c):
        return F.trim(F.regexp_replace(F.lower(c), "[ \t]+", " "))

    return docs.select(
        "doc_id",
        F.length(m).cast("long").alias("n_chars_messy"),
        F.length(norm(m)).cast("long").alias("n_chars_norm"),
        F.md5(norm(m)).alias("norm_hash"),
        F.when(norm(m) == norm(text), 1).otherwise(0).cast("long").alias("idempotent"),
    )


# ---------------------------------------------------------------------------
# TX16 — Zipf rank-frequency head: the top-{_TX16_K} corpus terms with
# their rank, count, and corpus share — the first plot anyone makes over a
# new corpus's token statistics (Zipf 1949; a head that deviates from the
# expected rank⁻¹ decay usually means boilerplate or tokenizer bugs, cf.
# dd11).  RANK is decided by the integer pair (count desc, token asc) —
# no float ever orders rows; the share is a rounded value column.
# Shape for 100 TB: term counts are ONE map-side-combined hash aggregate;
# the top-k is orderBy(...).limit(k) — Spark's TakeOrderedAndProject, a
# distributed per-partition top-k + driver merge of k·P rows, never a
# global sort of the (web-scale: billions-of-terms) vocabulary; only the
# k surviving rows touch the final unpartitioned rank window.
# ---------------------------------------------------------------------------
_TX16_K = 30


@q(
    "tx16_zipf_topk",
    f"""WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM uni)
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rank,
           tok, cnt, round(cnt / tot.n, 6) AS frac
    FROM uni CROSS JOIN tot
    ORDER BY cnt DESC, tok LIMIT {_TX16_K}""",
)
def tx16(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(_toks()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tot = uni.agg(F.sum("cnt").cast("double").alias("n"))
    topk = uni.orderBy(F.desc("cnt"), F.asc("tok")).limit(_TX16_K)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))  # over k rows only
    return (
        topk.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "tok", "cnt", F.round(F.col("cnt") / F.col("n"), 6).alias("frac"))
    )

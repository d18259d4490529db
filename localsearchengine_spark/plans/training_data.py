"""Training-data pipeline operators over the driver corpus (SURVEY.md §2
extension): deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine), similarity search (LSH-bucketed ANN), text analysis
(language-ID, fingerprinting), and multimodal column plumbing.

Every operator is registered with the same @q decorator as the relational
surface (plans/registry.py) so the driver checks it against a DuckDB
oracle.  Portability contract for oracles: the only hash both engines share
is md5 — 60-bit / 32-bit integer views of it are taken with
Spark ``conv(substring(md5(x),1,k),16,10)`` ≡ DuckDB
``CAST(concat('0x', substring(md5(x),1,k)) AS BIGINT)`` (verified
bit-identical), and all arithmetic that feeds a *decision* (LSH bucket,
sign bit, candidate cut) is integer-exact so no float summation-order
difference can flip it.  Shingles/tokens here use the plain space split of
the documents fixture (same as b15) so oracles stay in ANSI SQL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from localsearchengine_spark.plans.registry import _t, q

# ---------------------------------------------------------------------------
# shared shingle helpers (word 3-grams over the space-split token stream)
# ---------------------------------------------------------------------------
_NGRAM = 3


def _shingles_col(text_col: str = "text"):
    """array<string> of distinct word 3-grams — pure Catalyst expression."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - _NGRAM, F.lit(-1))),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2), F.element_at(toks, i + 3)
        ),
    )
    return F.when(n >= _NGRAM, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _shingles_sql(alias: str = "documents") -> str:
    """The DuckDB twin of :func:`_shingles_col` (1-based list indexing)."""
    sp = f"string_split({alias}.text, ' ')"
    return (
        f"CASE WHEN len({sp}) >= {_NGRAM} THEN list_distinct(list_transform("
        # range() upper bound is exclusive: i runs 1..len-NGRAM+1 (1-based)
        f"range(1, len({sp}) - {_NGRAM - 2}), i -> {sp}[i] || ' ' || {sp}[i+1] || ' ' || {sp}[i+2]))"
        f" ELSE [] END"
    )


def _jaccard_pairs_sql(threshold: float) -> str:
    """Exact all-pairs shingle-Jaccard oracle (fine at sf0.01 check scale)."""
    return f"""
WITH s AS (SELECT doc_id, {_shingles_sql()} AS sh FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE len(a.sh) > 0 AND len(b.sh) > 0
  AND len(list_intersect(a.sh, b.sh))::DOUBLE
      / len(list_distinct(list_concat(a.sh, b.sh))) >= {threshold}
"""


# ---------------------------------------------------------------------------
# DD3 — MinHash + LSH near-duplicate detection.
# Scale path: signatures are fixed-width (K hashes) per doc regardless of
# text size; the band shuffle is O(docs × bands); candidate verification
# touches only bucket-colliding pairs.  The exact-Jaccard SQL oracle agrees
# because verification recomputes exact Jaccard and the band parameters
# (32 bands × 2 rows) put the miss probability at J≥0.6 below 1e-6.
# ---------------------------------------------------------------------------
_MH_K = 64          # minhash functions
_MH_BANDS = 32      # → 2 rows per band
_MH_ROWS = _MH_K // _MH_BANDS
_MH_P = (1 << 61) - 1
_MH_THRESHOLD = 0.6
_rng = np.random.default_rng(1234)
_MH_A = _rng.integers(1, _MH_P, size=_MH_K, dtype=np.int64)
_MH_B = _rng.integers(0, _MH_P, size=_MH_K, dtype=np.int64)
# Mersenne-fold decomposition of A for overflow-free uint64 modmul:
# A·h = (A_hi·h)·2^32 + A_lo·h with h < 2^32, reduced mod P = 2^61−1 using
# 2^61 ≡ 1 (shift-add folds) — exactly equal to bigint (A·h + B) mod P.
_MH_A_HI = (_MH_A.astype(np.uint64) >> np.uint64(32))[:, None]
_MH_A_LO = (_MH_A.astype(np.uint64) & np.uint64(0xFFFFFFFF))[:, None]
_MH_B_U = _MH_B.astype(np.uint64)[:, None]
_MH_P_U = np.uint64(_MH_P)


def _fold61(x: np.ndarray) -> np.ndarray:
    """x (< 2^64) mod P for P = 2^61−1: one shift-add fold + one subtract."""
    x = (x >> np.uint64(61)) + (x & _MH_P_U)
    return np.where(x >= _MH_P_U, x - _MH_P_U, x)


def _minhash_matrix(h: np.ndarray) -> np.ndarray:
    """(K, n) matrix of (A_k·h + B_k) mod P over shingle hashes h < 2^32 —
    pure uint64 NumPy (no object-dtype bigints), bit-equal to the bigint
    formula the pre-vectorization kernel computed."""
    hi = _fold61(_MH_A_HI * h[None, :])          # (A_hi·h) mod P, < 2^61
    # (y·2^32) mod P: y = y_hi·2^29 + y_lo ⇒ y_hi + y_lo·2^32 (2^61 ≡ 1)
    hi = _fold61((hi >> np.uint64(29)) + ((hi & np.uint64((1 << 29) - 1)) << np.uint64(32)))
    lo = _fold61(_MH_A_LO * h[None, :])
    return _fold61(_fold61(hi + lo) + _MH_B_U)


def _minhash_sigs(pdf_iter):
    """mapInPandas kernel: (doc_id, text) → (doc_id, band, key1, key2).

    Batch-vectorized: all shingles of a batch are hashed into one flat
    array (zlib.crc32 — a C call per distinct shingle; strings must be
    hashed individually either way), the K universal hashes are computed as
    one (K, total) uint64 Mersenne-fold matrix, and per-document minima
    come from np.minimum.reduceat — no per-document Python loop and no
    object-dtype arithmetic (the round-1 kernel's two slow parts).
    """
    import zlib

    empty = pd.DataFrame(
        {
            "doc_id": pd.array([], dtype="int64"),
            "band": pd.array([], dtype="int32"),
            "k1": pd.array([], dtype="int64"),
            "k2": pd.array([], dtype="int64"),
        }
    )
    for pdf in pdf_iter:
        doc_ids, all_h, counts = [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            toks = text.split(" ") if text else []
            if len(toks) < _NGRAM:
                continue
            sh = {
                " ".join(toks[i : i + _NGRAM]) for i in range(len(toks) - _NGRAM + 1)
            }
            doc_ids.append(int(doc_id))
            counts.append(len(sh))
            all_h.append(
                np.fromiter(
                    (zlib.crc32(s.encode()) for s in sh),
                    dtype=np.uint64,
                    count=len(sh),
                )
            )
        if not doc_ids:
            yield empty
            continue
        h = np.concatenate(all_h)
        counts = np.asarray(counts, dtype=np.int64)
        bounds = np.concatenate(([0], np.cumsum(counts)))[:-1]
        m = _minhash_matrix(h)                       # (K, total shingles)
        sigs = np.minimum.reduceat(m, bounds, axis=1).astype(np.int64)  # (K, docs)
        n = len(doc_ids)
        yield pd.DataFrame(
            {
                "doc_id": pd.array(
                    np.repeat(np.asarray(doc_ids, dtype=np.int64), _MH_BANDS),
                    dtype="int64",
                ),
                "band": pd.array(
                    np.tile(np.arange(_MH_BANDS, dtype=np.int32), n), dtype="int32"
                ),
                "k1": pd.array(sigs[0::_MH_ROWS].T.ravel(), dtype="int64"),
                "k2": pd.array(sigs[1::_MH_ROWS].T.ravel(), dtype="int64"),
            }
        )


def _minhash_band_candidates(sigs):
    """Band-bucket self-join → candidate pairs (doc_a < doc_b), deduped."""
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.k1") == F.col("b.k1"))
            & (F.col("a.k2") == F.col("b.k2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _exact_jaccard_verify(cand, sh):
    """Candidates → exact shingle-Jaccard ≥ threshold (unrounded)."""
    return (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter((F.size("sh_a") > 0) & (F.size("sh_b") > 0))
        .filter(F.col("jaccard") >= _MH_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def dd03_group_stats(spark, sf_dir) -> dict:
    """Duplicate-group skew metric surfaced per round-2 verdict #6: how much
    the rep collapse below shrinks the band join's input."""
    docs = _t(spark, sf_dir, "documents")
    row = (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_groups"),
            F.max("n").alias("max_group"),
        )
        .collect()[0]
    )
    return {k: int(row[k]) for k in ("n_docs", "n_groups", "max_group")}


@q("dd03_minhash_lsh", _jaccard_pairs_sql(_MH_THRESHOLD))
def dd03(spark, sf_dir):
    """MinHash+LSH near-dup with duplicate-group collapse (verdict #6).

    An identical-text flood makes every LSH band bucket quadratic in the
    flood size (all copies share every band key), which no bucket-level
    heuristic can cap without losing pairs.  Structural fix: exact-duplicate
    groups (md5(text)) collapse to one REPRESENTATIVE before the band
    self-join, so the join is quadratic only in distinct near-dup structure,
    never in duplicate multiplicity.  Exactness is preserved because
    identical texts have identical shingle sets: a verified rep pair's
    jaccard transfers verbatim to every cross-group member pair, and
    intra-group pairs (jaccard exactly 1 when the shingle set is non-empty)
    are emitted directly — both output-sized work, not shuffle blowup."""
    docs = _t(spark, sf_dir, "documents")
    members = docs.select("doc_id", "text").withColumn("fp", F.md5("text"))
    reps = members.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"), F.first("text").alias("text")
    )
    sigs = reps.select("doc_id", "text").mapInPandas(
        _minhash_sigs, schema="doc_id long, band int, k1 long, k2 long"
    )
    cand = _minhash_band_candidates(sigs)
    sh = reps.select("doc_id", _shingles_col().alias("sh"))
    rep_pairs = _exact_jaccard_verify(cand, sh)

    rep_fp = reps.select(F.col("doc_id").alias("rep_id"), "fp")
    mem = members.select("fp", "doc_id")
    pr = rep_pairs.select(
        F.col("doc_a").alias("ra"), F.col("doc_b").alias("rb"), "jaccard"
    )
    fa = rep_fp.select(F.col("rep_id").alias("ra"), F.col("fp").alias("fpa"))
    fb = rep_fp.select(F.col("rep_id").alias("rb"), F.col("fp").alias("fpb"))
    ma = mem.select(F.col("fp").alias("fpa"), F.col("doc_id").alias("m_a"))
    mb = mem.select(F.col("fp").alias("fpb"), F.col("doc_id").alias("m_b"))
    cross = (
        pr.join(fa, "ra")
        .join(fb, "rb")
        .join(ma, "fpa")
        .join(mb, "fpb")
        .select(
            F.least("m_a", "m_b").alias("doc_a"),
            F.greatest("m_a", "m_b").alias("doc_b"),
            "jaccard",
        )
    )
    # intra-group: duplicates of each other, jaccard exactly 1 (non-empty
    # shingle set ⇔ token count ≥ _NGRAM, mirroring the oracle's len(sh)>0)
    m1 = members.filter(F.size(F.split(F.col("text"), " ")) >= _NGRAM).select(
        "fp", "doc_id"
    )
    intra = (
        m1.alias("x")
        .join(
            m1.alias("y"),
            (F.col("x.fp") == F.col("y.fp"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    out = cross.unionByName(intra) if _MH_THRESHOLD <= 1.0 else cross
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# DD4 — SimHash document fingerprint (60-bit, tf-weighted), entirely in
# Catalyst expressions: md5-derived 60-bit term hash → per-bit ±tf majority
# vote → packed bigint.  Whole-stage codegen, no Python.
# ---------------------------------------------------------------------------
_SIMHASH_BITS = 60

_SIMHASH_SQL = f"""
WITH tf AS (
  SELECT doc_id, tok,
         CAST(count(*) AS BIGINT) AS tf,
         CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
),
bits AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN tf ELSE -tf END) AS vote
  FROM tf, (SELECT unnest(range(0, {_SIMHASH_BITS})) AS bit) b
  GROUP BY doc_id, b.bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def _simhash_df(docs):
    """(doc_id, simhash) over a (doc_id, text) DataFrame — the shared
    pipeline behind dd04 (fingerprints) and dd09 (near-dup pairs)."""
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
        )
    )
    bits = (
        tf.select(
            "doc_id",
            "tf",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))).alias("bit"),
        )
        .withColumn(
            "vote",
            F.when(
                F.expr("shiftright(h, bit) & 1") == 1, F.col("tf")
            ).otherwise(-F.col("tf")),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("vote"))
    )
    return (
        bits.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("vote") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
                ).otherwise(F.lit(0).cast("long"))
            ).alias("simhash")
        )
    )


@q("dd04_simhash", _SIMHASH_SQL)
def dd04(spark, sf_dir):
    return _simhash_df(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# DD5 — EXACT n-gram Jaccard via prefix filtering (AllPairs / PPJoin,
# Bayardo et al. WWW'07, Xiao et al. WWW'08): under any global total order
# on shingles, two sets with J ≥ t MUST share a shingle within each set's
# first |X| − ⌈t·|X|⌉ + 1 shingles — so the self-join runs on prefixes
# only, and candidates are verified with the exact Jaccard.  Provably the
# same result as the all-pairs oracle (no recall loss), unlike LSH.
#
# The global order is (shingle df ASC, shingle ASC): hot shingles sort
# LAST, so they appear in a prefix only for documents made almost entirely
# of hot shingles — the inverted-index skew that round 1 flagged (a
# stop-shingle exploding the self-join) is eliminated structurally rather
# than salted around, and candidate volume drops with 1−t as a bonus.
# ---------------------------------------------------------------------------
_NJ_THRESHOLD = 0.5


@q("dd05_ngram_jaccard", _jaccard_pairs_sql(_NJ_THRESHOLD))
def dd05(spark, sf_dir):
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    full = docs.select("doc_id", _shingles_col().alias("sh_set")).filter(
        F.size("sh_set") > 0
    )
    sh = full.select("doc_id", F.size("sh_set").alias("sz"), F.explode("sh_set").alias("sh"))
    gdf = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("gdf"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("gdf"), F.asc("sh"))
    prefix = (
        sh.join(gdf, "sh")
        .withColumn("rn", F.row_number().over(w))
        # prefix length |X| − ⌈t·|X|⌉ + 1 (the PPJoin bound)
        .filter(F.col("rn") <= F.col("sz") - F.ceil(F.lit(_NJ_THRESHOLD) * F.col("sz")) + 1)
        .select("doc_id", "sh")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    fa = full.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sh_a"))
    fb = full.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sh_b"))
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= _NJ_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# DD6 — embedding-cosine near-duplicate pairs, LSH-banded (the scale path:
# round 1's exact all-pairs cross join was the brief's scale-killer).
# 96 random hyperplanes over integer-quantized embeddings → 24 bands × 4
# sign bits → band-bucket self-join (only same-bucket pairs materialize)
# → exact-cosine verify of candidates.  Bucket decisions are integer-exact
# and the ORACLE RUNS THE SAME ALGORITHM in SQL, so both engines compute
# the identical pair set deterministically (an exact all-pairs oracle
# cannot be hash-guaranteed against probabilistic candidate recall: the
# fixture's pairs sit at cos 0.42–0.51 where per-band recall < 1; measured
# recall vs exact is pinned in tests/test_training_data.py instead).
# At a production near-dup threshold (≥0.9) the same operator takes wider
# bands (e.g. 16 bits) which kills the O(n²) candidate term; band count and
# width are the knobs.
# ---------------------------------------------------------------------------
_COS_THRESHOLD = 0.42
_ANN_DIM = 64       # embeddings fixture dimensionality (shared with sim02)
_DD6_BANDS = 24
_DD6_BITS = 4
_dd6_rng = np.random.default_rng(4242)
_DD6_PLANES = _dd6_rng.integers(-9, 10, size=(_DD6_BANDS * _DD6_BITS, _ANN_DIM)).tolist()


def _dot(u, v):
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _idot(u, v):
    """Integer dot product of two array<long> columns (bucket decisions)."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _dd06_sql() -> str:
    plane_rows = ", ".join(
        f"({j // _DD6_BITS}, {j % _DD6_BITS}, {list(map(int, p))})"
        for j, p in enumerate(_DD6_PLANES)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000) AS BIGINT)) AS qv
           FROM embeddings),
planes(band, j, p) AS (VALUES {plane_rows}),
keys AS (
  SELECT e.vec_id, band,
         sum(CASE WHEN list_sum(list_transform(range(1, {_ANN_DIM + 1}),
                     i -> e.qv[i] * p[i])) > 0
                  THEN (1::BIGINT << j) ELSE 0 END) AS key
  FROM e, planes GROUP BY e.vec_id, band
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key
                          AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(list_cosine_similarity(ea.v, eb.v), 6) AS cos
FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b
WHERE list_cosine_similarity(ea.v, eb.v) >= {_COS_THRESHOLD}
"""


@q("dd06_embedding_neardup", _dd06_sql())
def dd06(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("qv"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    planes = spark.createDataFrame(
        [
            (j // _DD6_BITS, j % _DD6_BITS, [int(c) for c in p])
            for j, p in enumerate(_DD6_PLANES)
        ],
        "band int, j int, p array<bigint>",
    )
    # declarative signature build: n×(bands·bits) rows through one groupBy —
    # no per-row expression tree over 96 planes, and it scales with executors
    keys = (
        emb.select("vec_id", "qv")
        .crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            "band",
            F.when(
                _idot(F.col("qv"), F.col("p")) > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), j)"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("bit"),
        )
        .groupBy("vec_id", "band")
        .agg(F.sum("bit").alias("key"))
    )
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("v_a"), F.col("nrm").alias("nrm_a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("v_b"), F.col("nrm").alias("nrm_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos", _dot(F.col("v_a"), F.col("v_b")) / (F.col("nrm_a") * F.col("nrm_b")))
        .filter(F.col("cos") >= _COS_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# DD7 — duplicate CLUSTERING: near-dup pairs (the dd05 exact n-gram graph)
# → connected components → canonical representative (min doc_id) per
# cluster.  This is the dedup endgame at 100 TB ("keep one copy per
# duplicate set"), and the repo's one distributed ITERATIVE algorithm:
# min-label propagation with pointer jumping (label ← min(label, neighbor
# labels, label[label])), which converges in O(log n) rounds even on chain
# graphs (cf. Kiveris et al., "Connected Components in MapReduce and
# Beyond", SoCC 2014 — same doubling idea as their alternating algorithm).
# Each round is two shuffles; the driver loop stops on a converged count —
# a bounded action per round, not per row.  Labels are integer doc_ids, so
# the result is exact and the DuckDB oracle is a recursive CTE reachability
# closure over the same pair graph.
# ---------------------------------------------------------------------------
_DD07_SQL = f"""
WITH RECURSIVE
pairs AS ({_jaccard_pairs_sql(_NJ_THRESHOLD)}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT src AS v FROM edges),
walk(v, l) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT e.src, walk.l FROM edges e JOIN walk ON walk.v = e.dst
)
SELECT v AS doc_id, CAST(min(l) AS BIGINT) AS cluster,
       CAST(count(*) OVER (PARTITION BY min(l)) AS BIGINT) AS cluster_size
FROM walk GROUP BY v
"""


def connected_components(edges, max_rounds: int = 31):
    """Edge DataFrame (first two columns = endpoints; one row per
    undirected edge is enough — symmetrized internally) → (v, label) with
    label = min node id of v's component.  Min-label propagation + pointer
    jumping; each round halves the label-tree depth, so rounds = O(log n)
    even on a chain (31 caps a 2^31-node path).  One bounded driver action
    per round (a convergence count), never a per-row collect.  Raises if
    the fixed point is not reached within ``max_rounds`` — unconverged
    labels must never be returned as if exact."""
    e = edges.select(
        F.col(edges.columns[0]).alias("src"), F.col(edges.columns[1]).alias("dst")
    )
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    # each round MUST truncate lineage (localCheckpoint): the per-round
    # self-joins otherwise nest the previous round's logical plan and the
    # plan tree grows exponentially — the analyzer, not the data, OOMs.
    # ONE checkpoint per round (the intermediate `stepped` stays lazy: its
    # plan is ≤2 joins over the checkpointed lab, recomputed at most twice)
    # and the previous round's reference is dropped immediately so the
    # ContextCleaner can reclaim its blocks — peak storage ~2 label tables.
    # Prod would use reliable checkpoints (spark.checkpoint.dir) so
    # executor loss can't lose the round state; local mode has no such loss.
    lab = (
        edges.select(F.col("src").alias("v")).distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_rounds):
        nmin = (
            edges.join(lab, edges.dst == lab.v)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            lab.join(nmin, lab.v == nmin.src, "left")
            .select("v", F.least("label", F.coalesce("nlabel", "label")).alias("label"))
        )
        jump = stepped.select(F.col("v").alias("jv"), F.col("label").alias("jlabel"))
        new_lab = (
            stepped.join(jump, stepped.label == jump.jv, "left")
            .select("v", F.least("label", F.coalesce("jlabel", "label")).alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_lab.join(lab.withColumnRenamed("label", "old"), "v")
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        lab = new_lab  # drop previous round's reference (ContextCleaner)
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    return lab


@q("dd07_duplicate_clusters", _DD07_SQL)
def dd07(spark, sf_dir):
    pairs = dd05(spark, sf_dir).select("doc_a", "doc_b")
    lab = connected_components(pairs)
    sizes = lab.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        lab.join(F.broadcast(sizes), "label")
        .select(
            F.col("v").alias("doc_id"),
            F.col("label").alias("cluster"),
            F.col("cluster_size"),
        )
    )


# ---------------------------------------------------------------------------
# SIM2 — LSH-bucketed approximate nearest neighbour (the scale path next to
# sim01's brute force), BATCH: the whole query set runs as one job.
# Random-hyperplane signatures over integer-quantized embeddings
# (round(x*1000) — bucket decisions are integer-exact, so Spark and DuckDB
# agree bit-for-bit).  Each query's 16-bit signature is expanded driver-side
# into its Hamming-≤4 multiprobe set (Σ C(16,0..4) = 2517 keys) and
# BROADCAST-JOINED against the corpus signatures on exact key equality —
# semantically identical to the round-1 bit_count(xor) ≤ 4 filter, but a
# bucket lookup instead of an O(n)-per-query scan, and one job for the whole
# batch instead of a collect per query.  Exact cosine re-ranks candidates;
# top-10 per query via a window.  The oracle runs the SAME algorithm in SQL.
# ---------------------------------------------------------------------------
_ANN_PLANES = 16
_ANN_HAMMING = 4
_ANN_K = 10
_ANN_QUERY_IDS = list(range(8))  # the batch query set: vec_ids 0..7
_ann_rng = np.random.default_rng(99)
_PLANES = _ann_rng.integers(-9, 10, size=(_ANN_PLANES, _ANN_DIM)).tolist()


def _hamming_masks(bits: int, radius: int) -> list[int]:
    """All XOR masks of ``bits``-bit words with popcount ≤ radius."""
    from itertools import combinations

    out = []
    for r in range(radius + 1):
        for idxs in combinations(range(bits), r):
            m = 0
            for i in idxs:
                m |= 1 << i
            out.append(m)
    return out


_ANN_MASKS = _hamming_masks(_ANN_PLANES, _ANN_HAMMING)


def _sig_col(qcol):
    """Signature bigint from a quantized array<long> column."""
    sig = F.lit(0).cast("long")
    for j, plane in enumerate(_PLANES):
        lit_plane = F.array(*[F.lit(int(c)) for c in plane])
        dot = F.aggregate(
            F.zip_with(qcol, lit_plane, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def _ann_sql() -> str:
    plane_rows = ", ".join(
        f"({j}, {list(map(int, p))})" for j, p in enumerate(_PLANES)
    )
    qids = ", ".join(str(q) for q in _ANN_QUERY_IDS)
    return f"""
WITH planes(j, p) AS (VALUES {plane_rows}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000) AS BIGINT)) AS qv
      FROM embeddings),
sigs AS (
  SELECT e.vec_id, e.v,
         sum(CASE WHEN list_sum(list_transform(range(1, {_ANN_DIM + 1}),
                     i -> e.qv[i] * p[i])) > 0
                  THEN (1::BIGINT << j) ELSE 0 END) AS sig
  FROM e, planes GROUP BY e.vec_id, e.v
),
qs AS (SELECT vec_id AS query_id, sig AS qsig, v AS qv FROM sigs
       WHERE vec_id IN ({qids}))
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY list_cosine_similarity(s.v, qs.qv) DESC, s.vec_id)
            AS BIGINT) AS rank,
       s.vec_id AS vec_id,
       round(list_cosine_similarity(s.v, qs.qv), 6) AS cos
FROM sigs s, qs
WHERE s.vec_id <> qs.query_id AND bit_count(xor(s.sig, qs.qsig)) <= {_ANN_HAMMING}
QUALIFY rank <= {_ANN_K}
"""


@q("sim02_ann_lsh", _ann_sql())
def sim02(spark, sf_dir):
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("qv"),
    )
    sigs = emb.select(
        "vec_id",
        "v",
        _sig_col(F.col("qv")).alias("sig"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"),
    )
    qdf = sigs.filter(F.col("vec_id").isin(_ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig").alias("qsig"),
        F.col("v").alias("qv_d"),
        F.col("nrm").alias("qnrm"),
    )
    # driver-side multiprobe expansion: |queries| rows collected (bounded by
    # the query set size), each expanded to its 2517 Hamming-≤4 probe keys
    qsigs = {int(r["query_id"]): int(r["qsig"]) for r in qdf.select("query_id", "qsig").collect()}
    probes = spark.createDataFrame(
        [(qid, qsig ^ m) for qid, qsig in sorted(qsigs.items()) for m in _ANN_MASKS],
        "query_id long, sig long",
    )
    # bucket lookup: exact-key broadcast hash join (≡ Hamming ≤ r filter,
    # without touching the n-row signature table per query)
    cand = sigs.join(F.broadcast(probes), "sig").filter(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        cand.join(F.broadcast(qdf), "query_id")
        .withColumn("cos_raw", _dot(F.col("v"), F.col("qv_d")) / (F.col("nrm") * F.col("qnrm")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _ANN_K)
        .select("query_id", "rank", "vec_id", F.round("cos_raw", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# TX2 — language identification by marker-token profile scoring (the n-gram
# heuristic family).  The profiles are config; the oracle replicates the
# scoring, so correctness is checked on the mechanism.  Tie-break: first
# language in lexicographic order among the max scores.
# ---------------------------------------------------------------------------
_LANG_PROFILES = {
    "de": ["window", "group", "order", "value"],
    "en": ["the", "a", "fast", "slow", "key"],
    "es": ["data", "query", "row", "table"],
    "fr": ["line", "column", "sort", "merge"],
    "zh": ["join", "spark", "hash", "scan"],
}


def _langid_sql() -> str:
    score_cols = ", ".join(
        "len(list_filter(string_split(text,' '), t -> t IN ({}))) AS s_{}".format(
            ", ".join(f"'{w}'" for w in ws), lang
        )
        for lang, ws in _LANG_PROFILES.items()
    )
    langs = sorted(_LANG_PROFILES)
    best = "greatest({})".format(", ".join(f"s_{la}" for la in langs))
    pred = "CASE " + " ".join(
        f"WHEN s_{la} = {best} THEN '{la}'" for la in langs
    ) + " END"
    return f"""
WITH scored AS (SELECT doc_id, {score_cols} FROM documents)
SELECT doc_id, {pred} AS pred_lang, CAST({best} AS BIGINT) AS score FROM scored
"""


@q("tx02_language_id", _langid_sql())
def tx02(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        *[
            F.size(
                F.filter(toks, lambda t: t.isin(ws))
            ).alias(f"s_{lang}")
            for lang, ws in _LANG_PROFILES.items()
        ],
    )
    langs = sorted(_LANG_PROFILES)
    best = F.greatest(*[F.col(f"s_{la}") for la in langs])
    expr = None
    for la in langs:
        cond = F.col(f"s_{la}") == best
        expr = F.when(cond, F.lit(la)) if expr is None else expr.when(cond, F.lit(la))
    return scored.select(
        "doc_id", expr.alias("pred_lang"), best.cast("long").alias("score")
    )


# ---------------------------------------------------------------------------
# TX3 — order-sensitive positional fingerprint: Σ position·h32(token), all
# integer-exact (h32 < 2^32, positions ≤ corpus max dl ⇒ the sum stays far
# below 2^63 on both engines).  Detects token reorderings that the md5
# content fingerprint (dd02) maps to different values anyway but a bag-of-
# words hash would miss.
# ---------------------------------------------------------------------------
_TX03_SQL = """
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(ord * CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT)) AS BIGINT) AS fp
FROM (SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS ord
      FROM documents)
GROUP BY doc_id
"""


@q("tx03_positional_fingerprint", _TX03_SQL)
def tx03(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
        .withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("pos") + 1) * F.col("h")).alias("fp"),
        )
    )


# ---------------------------------------------------------------------------
# MM1 — multimodal column plumbing: the corpus text re-enters as an opaque
# binary column (stand-in for image bytes; no image libs in this sandbox),
# and a typed decode-STUB runs as an Arrow-batched mapInPandas with the real
# schema/batch shape.  Metadata is a deterministic function of the bytes so
# the SQL oracle can check the plumbing end to end.
# ---------------------------------------------------------------------------
_MM01_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width,
       CAST(64 + (octet_length(encode(text)) * 7) % 512 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels
FROM documents
"""


def _decode_stub(pdf_iter):
    """Batch decode stub: real pipelines put PIL/ffmpeg here (absent in this
    sandbox — deterministic fake per the module docstring contract)."""
    for pdf in pdf_iter:
        n = pdf["blob"].map(len).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": n,
                "width": 64 + n % 512,
                "height": 64 + (n * 7) % 512,
                "channels": np.full(len(pdf), 3, dtype=np.int64),
            }
        )


@q("mm01_multimodal_decode", _MM01_SQL)
def mm01(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("blob")
    )
    return docs.mapInPandas(
        _decode_stub,
        schema="doc_id long, n_bytes long, width long, height long, channels long",
    )


# ---------------------------------------------------------------------------
# MM2 — frame sampling plumbing (video stand-in): one input blob fans out to
# K frame rows with per-frame features, exercising the 1→N Arrow batch shape
# of a real frame sampler.  Features are scalar columns (the driver's
# canonicalizer sorts all columns with pandas, which cannot hash Python
# lists — an array<double> column turned this row red in round 1); the
# fixture text is pure ASCII (verified: octet_length == length on every
# row), so the strided byte-sum is SQL-expressible and the row gets a full
# value-hash oracle instead of the rows-only check.
# ---------------------------------------------------------------------------
_MM2_FRAMES = 3

_MM02_SQL = f"""
SELECT doc_id,
       CAST(k AS BIGINT) AS frame_idx,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(coalesce(list_sum(list_transform(range(1 + k, length(text) + 1, {_MM2_FRAMES}),
                                             i -> ord(substring(text, i, 1)))), 0) % 997
            AS DOUBLE) AS f_sum,
       CAST(len(range(1 + k, length(text) + 1, {_MM2_FRAMES})) AS DOUBLE) AS f_len
FROM documents CROSS JOIN (SELECT unnest(range(0, {_MM2_FRAMES})) AS k)
"""


def _frame_stub(pdf_iter):
    for pdf in pdf_iter:
        frames = []
        for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
            arr = np.frombuffer(blob, dtype=np.uint8)
            for k in range(_MM2_FRAMES):
                seg = arr[k::_MM2_FRAMES]
                frames.append(
                    (
                        int(doc_id),
                        k,
                        int(len(arr)),
                        float(int(seg.sum()) % 997),
                        float(len(seg)),
                    )
                )
        yield pd.DataFrame(
            frames, columns=["doc_id", "frame_idx", "n_bytes", "f_sum", "f_len"]
        )


@q("mm02_frame_sample", _MM02_SQL)
def mm02(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("blob")
    )
    return docs.mapInPandas(
        _frame_stub,
        schema="doc_id long, frame_idx long, n_bytes long, f_sum double, f_len double",
    )


# ---------------------------------------------------------------------------
# TX4 — benchmark DECONTAMINATION: the n-gram-overlap check every serious
# training pipeline runs before training (cf. GPT-3 App. C / Llama-2 §A.6
# style 3-gram overlap).  The "benchmark" here is a deterministic slice of
# the corpus (doc_id % 50 == 0) standing in for an eval set; its distinct
# word 3-grams are small by construction, so they BROADCAST and the
# per-document overlap is a map-side semi-probe + one partial-aggregated
# groupBy(doc_id) — no all-pairs work, no skewed shuffle, the shape that
# holds when "documents" is 100 TB and the benchmark set is millions of
# n-grams.  Contamination = |doc 3-grams ∩ benchmark 3-grams| / |doc
# 3-grams|; the decision inputs are integer-exact counts.
# ---------------------------------------------------------------------------
_TX4_BENCH_MOD = 50

_TX4_SQL = f"""
WITH s AS (SELECT doc_id, {_shingles_sql()} AS sh FROM documents),
b AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % {_TX4_BENCH_MOD} = 0),
e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM s
      WHERE doc_id % {_TX4_BENCH_MOD} <> 0 AND len(sh) > 0)
SELECT e.doc_id,
       CAST(any_value(e.n) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap,
       round(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / any_value(e.n), 6) AS contamination
FROM e LEFT JOIN b ON e.g = b.g
GROUP BY e.doc_id
"""


@q("tx04_decontamination", _TX4_SQL)
def tx04(spark, sf_dir):
    sh = _t(spark, sf_dir, "documents").select("doc_id", _shingles_col().alias("sh"))
    bench = (
        sh.filter(F.col("doc_id") % _TX4_BENCH_MOD == 0)
        .select(F.explode("sh").alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    e = sh.filter((F.col("doc_id") % _TX4_BENCH_MOD != 0) & (F.size("sh") > 0)).select(
        "doc_id", F.size("sh").cast("long").alias("n"), F.explode("sh").alias("g")
    )
    return (
        e.join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.first("n").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "overlap",
            F.round(F.col("overlap") / F.col("n_shingles"), 6).alias("contamination"),
        )
    )


# ---------------------------------------------------------------------------
# SAMP1 — deterministic STRATIFIED SAMPLING (proportional-to-target): two
# passes, both scale-free.  Pass 1 counts each stratum (groupBy(lang) — a
# handful of rows, broadcast back); pass 2 keeps a document iff its md5
# hash bucket falls under the stratum's acceptance rate, decided by the
# integer cross-multiplication  bucket·cnt < target·BUCKETS  (no float
# rate, so Spark and DuckDB agree bit-for-bit, and re-runs / repartitions
# keep the EXACT same sample — the property that matters when the sample
# seeds a training mix that must be reproducible).  Strata smaller than the
# target are kept whole, the natural degenerate case of the inequality.
# ---------------------------------------------------------------------------
_SAMP_TARGET = 40
_SAMP_BUCKETS = 1_000_000

_SAMP_SQL = f"""
WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang)
SELECT d.doc_id, d.lang,
       CAST(CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % {_SAMP_BUCKETS} AS BIGINT) AS bucket
FROM documents d JOIN c USING (lang)
WHERE CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % {_SAMP_BUCKETS} * c.cnt < {_SAMP_TARGET} * {_SAMP_BUCKETS}
"""


@q("samp01_stratified_sample", _SAMP_SQL)
def samp01(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    cnt = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _SAMP_BUCKETS
    )
    return (
        docs.join(F.broadcast(cnt), "lang")
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") * F.col("cnt") < F.lit(_SAMP_TARGET * _SAMP_BUCKETS))
        .select("doc_id", "lang", "bucket")
    )


# ---------------------------------------------------------------------------
# DD8 — the dedup DECISION: which copy to keep.  dd07 names the clusters;
# a pipeline needs a keep/drop bit per document.  Canonical = the highest-
# quality member (longest n_chars, doc_id ascending tie-break) of each
# duplicate cluster; documents outside any near-dup pair are their own
# singleton cluster and trivially kept.  The per-cluster window is safe at
# scale because duplicate clusters are small by nature (and dd03/dd07 cap
# pathological identical-doc floods upstream); the labels⋈documents join is
# a plain equi-join on doc_id that AQE broadcasts when the dup graph is
# small relative to the corpus.
# ---------------------------------------------------------------------------
_DD08_SQL = f"""
WITH RECURSIVE
pairs AS ({_jaccard_pairs_sql(_NJ_THRESHOLD)}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT src AS v FROM edges),
walk(v, l) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT e.src, walk.l FROM edges e JOIN walk ON walk.v = e.dst
),
labels AS (SELECT v AS doc_id, min(l) AS cluster FROM walk GROUP BY v),
alldocs AS (
  SELECT d.doc_id, coalesce(lab.cluster, d.doc_id) AS cluster, d.n_chars
  FROM documents d LEFT JOIN labels lab USING (doc_id)
)
SELECT doc_id, CAST(cluster AS BIGINT) AS cluster,
       CAST(CASE WHEN row_number() OVER (PARTITION BY cluster
                 ORDER BY n_chars DESC, doc_id) = 1
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM alldocs
"""


@q("dd08_canonical_docs", _DD08_SQL)
def dd08(spark, sf_dir):
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = dd05(spark, sf_dir).select("doc_a", "doc_b")
    lab = connected_components(pairs).select(
        F.col("v").alias("doc_id"), F.col("label").alias("cluster")
    )
    alldocs = docs.join(lab, "doc_id", "left").withColumn(
        "cluster", F.coalesce("cluster", "doc_id")
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return alldocs.select(
        "doc_id",
        "cluster",
        F.when(F.row_number().over(w) == 1, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# DD9 — SimHash NEAR-DUPLICATE PAIRS (dd04 stops at fingerprints; a dedup
# pipeline needs the pairs).  EXACT by pigeonhole banding: the 60-bit
# fingerprint splits into RADIUS+1 disjoint 15-bit bands, and any pair
# within Hamming distance RADIUS differs in at most RADIUS bands, so it
# agrees exactly on at least one band — candidate generation via the
# (band, band_key) self-join is therefore lossless (unlike probabilistic
# LSH), and the popcount verify is exact.  Scale shape: the join runs on
# band buckets (SortMergeJoin on two small integer keys), never all-pairs;
# candidate volume is bounded by bucket occupancy, the same structural
# skew-kill as dd05's prefix filter.  Cf. Manku, Jain & Sarma, "Detecting
# near-duplicates for web crawling" (WWW'07) — the same split-and-probe
# construction used there for 64-bit SimHash at web scale.
# ---------------------------------------------------------------------------
_DD09_RADIUS = 3
_DD09_BANDS = _DD09_RADIUS + 1          # 4 bands
_DD09_WIDTH = _SIMHASH_BITS // _DD09_BANDS  # 15 bits each

_DD09_SQL = f"""
WITH sh AS ({_SIMHASH_SQL})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_DD09_RADIUS}
"""


@q("dd09_simhash_pairs", _DD09_SQL)
def dd09(spark, sf_dir):
    sh = _simhash_df(_t(spark, sf_dir, "documents"))
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(_DD09_BANDS - 1))).alias("band"),
    ).withColumn(
        "band_key",
        F.expr(
            f"shiftright(simhash, band * {_DD09_WIDTH}) & CAST({(1 << _DD09_WIDTH) - 1} AS BIGINT)"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "dist", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long")
        )
        .filter(F.col("dist") <= _DD09_RADIUS)
        .select("doc_a", "doc_b", "dist")
    )


# ---------------------------------------------------------------------------
# SIM3 — IVF (inverted-file) approximate nearest neighbour: the second
# scale path next to sim02's LSH, and the standard shape for billion-vector
# serving (coarse quantizer → inverted cells → exact re-rank within probed
# cells; Jégou, Douze & Schmid, "Product quantization for nearest neighbor
# search", TPAMI 2011 — the IVF part, without PQ compression).
#
#   * COARSE CENTROIDS: the K vectors with the smallest md5(vec_id)
#     integer view (deterministic, data-independent sampling — stands in
#     for Lloyd iterations, which at production scale would run the same
#     assign step a few times; centroids stay a broadcast-size table
#     either way).
#   * ASSIGNMENT: argmin of the INTEGER squared L2 distance over quantized
#     (round(x*1000)) vectors, tie-broken by centroid id via the encoded
#     key  dist*K + cid−1  →  min() is the argmin — integer-exact, so
#     Spark and DuckDB assign every vector to the identical cell.
#   * QUERY: probe the NPROBE nearest cells (same integer metric), exact
#     float64 cosine re-rank of ONLY the probed cells' members, top-10 per
#     query via a window.  One job for the whole query batch; candidates
#     per query ≈ n·NPROBE/K — the knob that cuts the scan at scale.
# The oracle runs the SAME algorithm in SQL; recall vs exact brute force is
# pinned in tests (the accuracy statement lives there, not in the hash).
# ---------------------------------------------------------------------------
_IVF_K = 16
_IVF_NPROBE = 4

_IVF_MD5 = "CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT)"

_IVF_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000) AS BIGINT)) AS qv
           FROM embeddings),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY {_IVF_MD5}, vec_id) AS BIGINT) AS cid,
         qv AS cv
  FROM e
  ORDER BY {_IVF_MD5}, vec_id
  LIMIT {_IVF_K}
),
dists AS (
  SELECT e.vec_id, c.cid,
         CAST(list_sum(list_transform(range(1,{_ANN_DIM + 1}),
              i -> (e.qv[i]-c.cv[i])*(e.qv[i]-c.cv[i]))) AS BIGINT) AS dist
  FROM e, cent c
),
assign AS (
  SELECT vec_id, CAST(min(dist*{_IVF_K} + cid - 1) % {_IVF_K} + 1 AS BIGINT) AS cell
  FROM dists GROUP BY vec_id
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT vec_id AS query_id, cid AS cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS pr
    FROM dists WHERE vec_id IN ({", ".join(str(i) for i in _ANN_QUERY_IDS)}))
  WHERE pr <= {_IVF_NPROBE}
)
SELECT p.query_id,
       CAST(row_number() OVER (PARTITION BY p.query_id
            ORDER BY list_cosine_similarity(ev.v, eq.v) DESC, a.vec_id) AS BIGINT) AS rank,
       a.vec_id, round(list_cosine_similarity(ev.v, eq.v), 6) AS cos
FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
JOIN e ev ON ev.vec_id = a.vec_id JOIN e eq ON eq.vec_id = p.query_id
QUALIFY rank <= {_ANN_K}
"""


def _ivf_parts(spark, sf_dir):
    """(emb, assign, dists) shared by sim03 and its tests.

    Cell assignment is SHUFFLE-FREE: the K=16 sampled centroids (a bounded
    driver collect — the same rows the oracle SQL derives) are inlined as an
    array-of-struct literal and each vector computes its argmin cell with a
    per-row higher-order ``array_min`` over the encoded ``dist*K + cid`` key
    — no 16x crossJoin fan-out and no groupBy(vec_id) exchange over the
    corpus (at 10^11 embeddings that exchange dominates).  ``dists`` (every
    centroid distance, needed for probe ranking) is built only for the 8
    query vectors.
    """
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("qv"),
    )
    md5key = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("md5key")
    )
    cent_rows = (
        emb.select("vec_id", "qv", md5key)
        .orderBy("md5key", "vec_id")
        .limit(_IVF_K)
        .select("qv")
        .collect()
    )
    cent_lit = F.array(
        *[
            F.struct(
                F.lit(cid).cast("long").alias("cid"),
                F.array(*[F.lit(int(x)).cast("long") for x in r["qv"]]).alias("cv"),
            )
            for cid, r in enumerate(cent_rows, start=1)
        ]
    )

    def _sqdist(cv):
        return F.aggregate(
            F.zip_with(F.col("qv"), cv, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # dist ≤ dim·(2·1000)^2 ≈ 2.6e8 at dim=64, so dist·K+cid fits a long
    enc_min = F.array_min(
        F.transform(cent_lit, lambda c: _sqdist(c["cv"]) * _IVF_K + c["cid"] - 1)
    )
    assign = emb.select(
        "vec_id", ((enc_min % _IVF_K) + 1).cast("long").alias("cell")
    )
    dists = (
        emb.filter(F.col("vec_id").isin(_ANN_QUERY_IDS))
        .select("vec_id", F.explode(cent_lit).alias("c"), "qv")
        .select("vec_id", F.col("c.cid").alias("cid"), _sqdist(F.col("c.cv")).alias("dist"))
    )
    return emb, assign, dists


@q("sim03_ann_ivf", _IVF_SQL)
def sim03(spark, sf_dir):
    from pyspark.sql import Window

    emb, assign, dists = _ivf_parts(spark, sf_dir)
    wp = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cid"))
    probes = (
        dists.filter(F.col("vec_id").isin(_ANN_QUERY_IDS))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= _IVF_NPROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("cid").alias("cell"))
    )
    qv = emb.filter(F.col("vec_id").isin(_ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("q_v"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("q_nrm"),
    )
    cand = (
        assign.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(emb, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cos_raw",
            _dot(F.col("v"), F.col("q_v"))
            / (F.sqrt(_dot(F.col("v"), F.col("v"))) * F.col("q_nrm")),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _ANN_K)
        .select("query_id", "rank", "vec_id", F.round("cos_raw", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# TX5 — WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
# "Winnowing: local algorithms for document fingerprinting", SIGMOD 2003):
# the rolling-fingerprint scheme behind MOSS.  Word-3-gram hashes in
# position order; every window of W consecutive hashes selects its minimum
# (rightmost on ties — the robust-winnowing rule), and the distinct
# selected (position, hash) pairs are the fingerprint set, guaranteeing a
# shared fingerprint for any match of length ≥ W+NGRAM−1 tokens.
#
# The rightmost-min selection is ONE integer window-min via the encoded key
#   h·2^20 + (2^20−1 − pos)
# (min over the frame ⇒ smallest hash, largest position on ties) — a single
# partitionBy(doc) window, no self-join, identical arithmetic in DuckDB.
# Documents are turns (≪ 2^20 grams; guarded).  Scale shape: one shuffle by
# doc_id, frame state bounded by W.
# ---------------------------------------------------------------------------
_WIN_W = 4
_WIN_POS_BITS = 20
_WIN_POS_CAP = (1 << _WIN_POS_BITS) - 1

_TX5_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
grams AS (
  SELECT doc_id, i-1 AS pos,
         CAST(concat('0x', substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),1,8)) AS BIGINT) AS h,
         len(t)-{_NGRAM - 1} AS ng
  FROM toks, LATERAL (SELECT unnest(range(1, len(t)-{_NGRAM - 2})) AS i)
  WHERE len(t) >= {_NGRAM}
),
sel AS (
  SELECT doc_id, pos, ng,
         min(h*{1 << _WIN_POS_BITS} + ({_WIN_POS_CAP} - pos)) OVER
           (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS mkey
  FROM grams
)
SELECT DISTINCT doc_id,
       CAST({_WIN_POS_CAP} - (mkey % {1 << _WIN_POS_BITS}) AS BIGINT) AS pos,
       CAST(mkey // {1 << _WIN_POS_BITS} AS BIGINT) AS fp
FROM sel WHERE pos <= ng - {_WIN_W}
"""


@q("tx05_winnowing", _TX5_SQL)
def tx05(spark, sf_dir):
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    grams_arr = F.transform(
        F.sequence(F.lit(0), n - _NGRAM),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    grams = (
        docs.filter(n >= _NGRAM)
        .select(
            "doc_id",
            (n - (_NGRAM - 1)).cast("long").alias("ng"),
            F.posexplode(grams_arr).alias("pos", "gram"),
        )
        .withColumn(
            "h", F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
        )
    )
    # pos < 2^20 invariant (turn-sized documents); a violation would corrupt
    # the encoded key silently, so fail loudly instead
    key = (
        F.when(F.col("pos") > _WIN_POS_CAP, F.raise_error("tx05: pos >= 2^20"))
        .otherwise(F.expr(f"shiftleft(h, {_WIN_POS_BITS})") + (_WIN_POS_CAP - F.col("pos")))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    sel = grams.withColumn("mkey", F.min(key).over(w)).filter(
        F.col("pos") <= F.col("ng") - _WIN_W
    )
    return sel.select(
        "doc_id",
        F.expr(
            f"CAST({_WIN_POS_CAP} - (mkey & CAST({_WIN_POS_CAP} AS BIGINT)) AS BIGINT)"
        ).alias("pos"),
        F.expr(f"shiftright(mkey, {_WIN_POS_BITS})").cast("long").alias("fp"),
    ).distinct()


# ---------------------------------------------------------------------------
# TX6 — BPE-ish subword-boundary token counting (training-data pipeline:
# budget estimation / length filtering before real tokenization).  A GPT-2
# style pre-tokenizer regex — contraction suffixes, space-prefixed letter
# runs, digit runs, punctuation runs — applied JVM-side with Spark's
# regexp_extract_all (zero Python in the plan), next to the plain
# whitespace count.  The alternation is leftmost-first in all three regex
# engines involved (Java here, RE2 in the DuckDB oracle, Python re in
# tests — verified identical on punctuation/contraction/unicode edges).
# ---------------------------------------------------------------------------
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"

_TX6_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{BPE_PATTERN.replace("'", "''")}')) AS BIGINT) AS n_bpe,
       CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_ws
FROM documents
"""


@q("tx06_bpe_token_count", _TX6_SQL)
def tx06(spark, sf_dir):
    n_bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), F.lit(0)))
    trimmed = F.trim(F.col("text"))
    n_ws = F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        n_bpe.cast("long").alias("n_bpe"),
        n_ws.cast("long").alias("n_ws"),
    )


# ---------------------------------------------------------------------------
# TX7 — unigram-LM quality scoring (the CCNet-style proxy: documents whose
# tokens are improbable under the corpus unigram distribution are junk or
# off-domain).  score(d) = (1/|d|) Σ_t∈d ln(cf_t / C) over analyzer tokens;
# higher (less negative) = more typical text.  Two scale-free passes: the
# term-frequency table (vocabulary-sized, broadcast) and one per-doc sum —
# a real LM would need a model artifact; the unigram field is derivable
# from the corpus itself, which is what makes it a pipeline operator.
# Float note: the per-doc sum is order-sensitive at ~1e-13 relative error;
# round(…, 6) absorbs it (same convention as every scored oracle here).
# ---------------------------------------------------------------------------
_TX7_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS term
  FROM documents
),
cf AS (SELECT term, CAST(count(*) AS DOUBLE) AS cf FROM toks GROUP BY term),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM toks)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(ln(cf.cf / tot.c)) / count(*), 6) AS avg_logprob
FROM toks JOIN cf USING (term) CROSS JOIN tot
GROUP BY doc_id
"""


@q("tx07_unigram_logprob", _TX7_SQL)
def tx07(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(r"regexp_extract_all(lower(text), '[0-9a-z_]+', 0)")
        ).alias("term"),
    )
    cf = toks.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("cf"))
    tot = toks.agg(F.count(F.lit(1)).cast("double").alias("c"))
    return (
        toks.join(F.broadcast(cf), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.log(F.col("cf") / F.col("c"))) / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# SAMP2 — deterministic TOKEN-PROPORTIONAL sampling: keep each document
# with probability ∝ its size, so the kept set is a uniform sample over
# CONTENT rather than over documents (the mix a token-budgeted training
# run wants — long docs must not be under-represented).  Same md5-bucket
# construction as samp01; the acceptance test is the integer
# cross-multiplication  bucket·Σw < target·w·BUCKETS  (no float rate →
# bit-identical across engines, re-runs and repartitions).  Overflow
# bound: Σw·BUCKETS must stay < 2^63 — with 10^6 buckets that allows
# ~9.2e12 total weight; beyond that, shrink BUCKETS or widen to decimals.
# ---------------------------------------------------------------------------
_SAMP2_TARGET = 60
_SAMP2_BUCKETS = 1_000_000

_SAMP2_SQL = f"""
WITH tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w FROM documents)
SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS weight,
       CAST(CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % {_SAMP2_BUCKETS} AS BIGINT) AS bucket
FROM documents d CROSS JOIN tot
WHERE CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % {_SAMP2_BUCKETS} * tot.w
      < {_SAMP2_TARGET} * d.n_chars * {_SAMP2_BUCKETS}
"""


@q("samp02_weighted_sample", _SAMP2_SQL)
def samp02(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tot = docs.agg(F.sum("n_chars").cast("long").alias("w"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _SAMP2_BUCKETS
    )
    return (
        docs.crossJoin(F.broadcast(tot))
        .withColumn("bucket", bucket)
        .filter(
            F.col("bucket") * F.col("w")
            < F.lit(_SAMP2_TARGET * _SAMP2_BUCKETS) * F.col("n_chars")
        )
        .select(
            "doc_id", F.col("n_chars").cast("long").alias("weight"), "bucket"
        )
    )


# ---------------------------------------------------------------------------
# SAMP5 — temperature-scaled domain mixing (the multilingual / multi-domain
# resampling rule of Conneau & Lample NeurIPS'19 / Arivazhagan et al. '19,
# α = 0.5): sample domain c at rate ∝ p_c^α, i.e. per-doc acceptance
# r_c ∝ p_c^(α-1) = 1/√n_c capped at 1 — head domains are downsampled by
# the square root of their size, tail domains kept (nearly) whole, which
# flattens the mixture toward uniform without the tail starvation of
# proportional sampling.
#
# The decision avoids sqrt entirely: keep iff  bucket² · n_c < C  with
# bucket = md5-derived ∈ [0, B) — equivalent to bucket < √(C/n_c), i.e.
# acceptance min(1, √(C/n_c)/B), and a PURE INTEGER comparison, so the
# sample is bit-identical across engines / re-runs / repartitions (the
# repo-wide no-float-decisions contract; samp01/samp02 use the linear
# form, this is the quadratic one).  Quadrupling a domain halves its rate
# — exactly α = 0.5.  Overflow bound: (B-1)²·n_c < 2^63 leaves room for
# n_c up to ~9.2e12 docs per domain at B = 1000; production scales C to
# the token budget (C = (B·T/|domains|)² / 1 shape) — here C is pinned so
# the sf0.01 corpus keeps a meaningful, domain-dependent fraction.
# The domain hash is salted ('mix:') so this decision is independent of
# samp01/samp03's buckets on the same doc_ids.
# ---------------------------------------------------------------------------
_SAMP5_B = 1000
_SAMP5_C = 4_000_000  # rate = min(1, 2000/√n_c)/1000 → 13% at n=250, 24% at n=70


_SAMP5_SQL = f"""
WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
           FROM documents GROUP BY lang)
SELECT d.doc_id, d.lang, c.n_lang,
       CAST(CAST(concat('0x', substring(md5(concat('mix:', CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
            % {_SAMP5_B} AS BIGINT) AS bucket
FROM documents d JOIN c USING (lang)
WHERE CAST(concat('0x', substring(md5(concat('mix:', CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
      % {_SAMP5_B}
      * (CAST(concat('0x', substring(md5(concat('mix:', CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
         % {_SAMP5_B})
      * c.n_lang < {_SAMP5_C}
"""


@q("samp05_temperature_mixing", _SAMP5_SQL)
def samp05(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    cnt = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_lang"))
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
        % _SAMP5_B
    )
    return (
        docs.join(F.broadcast(cnt), "lang")
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") * F.col("bucket") * F.col("n_lang") < F.lit(_SAMP5_C))
        .select("doc_id", "lang", "n_lang", "bucket")
    )


# ---------------------------------------------------------------------------
# SK1 — count-min sketch (Cormode & Muthukrishnan, J.Alg 2005): term
# frequencies estimated from a d×w = 4×256 cell grid that NEVER grows with
# the vocabulary — the sketch is what survives when the exact per-term agg
# (fts19) stops fitting: cells partial-aggregate map-side and the merged
# sketch is 1 KB regardless of corpus size.  Hashes are md5-derived
# integers (the cross-engine portability contract), so the sketch — and
# therefore every estimate — is bit-identical in the SQL oracle; the gate
# pins construction + probe parity, with the exact count alongside to show
# the one-sided (over-estimate) error.
# ---------------------------------------------------------------------------
_CMS_D, _CMS_W = 4, 256
_CMS_PROBES = ["data", "join", "spark", "the", "zzz_absent"]  # sorted


def _cms_hash_sql(term_expr: str, j_expr: str) -> str:
    return (
        f"CAST(concat('0x', substring(md5(concat({term_expr}, '#', "
        f"CAST({j_expr} AS VARCHAR))), 1, 15)) AS BIGINT) % {_CMS_W}"
    )


_SK1_SQL = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS term
  FROM documents
),
rows_j AS (SELECT unnest(range({_CMS_D})) AS j),
sketch AS (
  SELECT j, {_cms_hash_sql('term', 'j')} AS cell, CAST(count(*) AS BIGINT) AS cnt
  FROM toks, rows_j GROUP BY 1, 2
),
probes(term) AS (VALUES {", ".join(f"('{t}')" for t in _CMS_PROBES)}),
probe_cells AS (
  SELECT p.term, r.j, {_cms_hash_sql('p.term', 'r.j')} AS cell
  FROM probes p, rows_j r
),
est AS (
  SELECT pc.term, min(coalesce(s.cnt, 0)) AS est
  FROM probe_cells pc LEFT JOIN sketch s ON s.j = pc.j AND s.cell = pc.cell
  GROUP BY pc.term
),
exact AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM toks
          WHERE term IN ({", ".join(f"'{t}'" for t in _CMS_PROBES)}) GROUP BY term)
SELECT e.term, CAST(e.est AS BIGINT) AS est_cf,
       CAST(coalesce(x.cf, 0) AS BIGINT) AS exact_cf
FROM est e LEFT JOIN exact x USING (term)
"""


def _cms_hash_col(term_col, j_col):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(term_col, F.lit("#"), j_col.cast("string"))), 1, 15
            ),
            16, 10,
        ).cast("long")
        % _CMS_W
    )


@q("sk01_countmin_freq", _SK1_SQL)
def sk01(spark, sf_dir):
    toks = _t(spark, sf_dir, "documents").select(
        F.explode(
            F.expr(r"regexp_extract_all(lower(text), '[0-9a-z_]+', 0)")
        ).alias("term")
    )
    rows_j = spark.range(_CMS_D).select(F.col("id").cast("long").alias("j"))
    sketch = (
        toks.crossJoin(F.broadcast(rows_j))
        .groupBy("j", _cms_hash_col(F.col("term"), F.col("j")).alias("cell"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probes = spark.createDataFrame([(t,) for t in _CMS_PROBES], "term string")
    probe_cells = probes.crossJoin(rows_j).select(
        "term", "j", _cms_hash_col(F.col("term"), F.col("j")).alias("cell")
    )
    est = (
        probe_cells.join(sketch, ["j", "cell"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cf"))
    )
    exact = (
        toks.filter(F.col("term").isin(_CMS_PROBES))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    return est.join(exact, "term", "left").select(
        "term",
        F.col("est_cf").cast("long").alias("est_cf"),
        F.coalesce(F.col("cf"), F.lit(0)).cast("long").alias("exact_cf"),
    )


# ---------------------------------------------------------------------------
# SK2 — HyperLogLog distinct counting from scratch (Flajolet et al. 2007),
# m=64 registers over a 60-bit md5 hash: idx = low 6 bits, rho = leading-
# zero run of the remaining 54 bits + 1 (via length(bin(v)) — both engines
# print minimal binary).  The register harmonic sum Σ2^-M[j] is computed
# as the INTEGER Σ2^(55-M[j]) (≤ 2^61, exact) so no float summation-order
# can move the estimate; the only floats are one division and the
# small-range linear-counting ln, both round-6-stable cross-engine.
# Unlike approx01 (approx_count_distinct, rows-only check), this sketch
# is fully driver-gated — same registers, same estimate, to the bit.
# Scale shape: the register table partial-aggregates map-side (64 groups),
# and union of sketches = elementwise max — the mergeable-summary property
# that makes it a pipeline operator.
# ---------------------------------------------------------------------------
_HLL_P, _HLL_M = 6, 64
_HLL_ALPHA = 0.709  # spec constant for m=64 (0.7213/(1+1.079/m))


_SK2_SQL = f"""
WITH h AS (
  SELECT CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
  FROM events
),
parts AS (SELECT hv % {_HLL_M} AS idx, hv // {_HLL_M} AS v FROM h),
regs AS (
  SELECT idx, max(CASE WHEN v > 0 THEN 55 - length(bin(v)) ELSE 55 END) AS m
  FROM parts GROUP BY idx
),
s AS (SELECT CAST(sum(1::BIGINT << (55 - m)) AS BIGINT) AS isum,
             CAST(count(*) AS BIGINT) AS nreg
      FROM regs),
est AS (
  SELECT nreg,
         {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
         * CAST(1::BIGINT << 55 AS DOUBLE)
         / (CAST(isum AS DOUBLE) + CAST({_HLL_M} - nreg AS DOUBLE) * CAST(1::BIGINT << 55 AS DOUBLE)) AS raw
  FROM s
)
SELECT CAST(round(CASE WHEN raw <= 2.5 * {_HLL_M} AND nreg < {_HLL_M}
            THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / CAST({_HLL_M} - nreg AS DOUBLE))
            ELSE raw END, 6) AS DOUBLE) AS est_distinct,
       nreg AS nonzero_registers,
       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS exact_distinct
FROM est
"""


@q("sk02_hll_distinct", _SK2_SQL)
def sk02(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    v = F.expr("shiftright(hv, 6)")
    rho = F.when(v > 0, F.lit(55) - F.length(F.bin(v))).otherwise(F.lit(55))
    regs = (
        ev.select(hv.alias("hv"))
        .select((F.col("hv") % _HLL_M).alias("idx"), rho.alias("m"))
        .groupBy("idx")
        .agg(F.max("m").alias("m"))
    )
    s = regs.agg(
        F.sum(F.expr("shiftleft(1L, CAST(55 - m AS INT))")).cast("long").alias("isum"),
        F.count(F.lit(1)).cast("long").alias("nreg"),
    )
    two55 = float(1 << 55)
    raw = (
        F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
        * F.lit(two55)
        / (F.col("isum").cast("double") + (F.lit(_HLL_M) - F.col("nreg")).cast("double") * F.lit(two55))
    )
    est = F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("nreg") < _HLL_M),
        F.lit(float(_HLL_M))
        * F.log(F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("nreg")).cast("double")),
    ).otherwise(raw)
    exact = ev.agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    return (
        s.select(
            F.round(est, 6).alias("est_distinct"),
            F.col("nreg").alias("nonzero_registers"),
        )
        .crossJoin(F.broadcast(exact))
    )


# ---------------------------------------------------------------------------
# SK4 — Bloom-filter semi-join pruning (Bloom CACM 1970; the runtime-filter
# shape Spark's own InjectRuntimeFilter and every warehouse engine use):
# build a bits-of-md5 Bloom filter over the SELECTIVE side's join keys
# (orders with o_totalprice above a threshold), probe the fact side's keys
# against it, and only the bloom-positive keys reach the exact join — at
# 100 TB the probe prunes the fact scan BEFORE the expensive shuffle,
# which is the entire point.  The sketch is m = 32,768 bits in 62-bit
# words (bit 62/63 never set: DuckDB's `<<` raises on 1<<63, so words are
# 62 bits wide on BOTH engines), k = 4 md5-derived positions per key —
# built by ONE map-side-combined bit_or aggregate (≤ 529 words ≈ 4 KB
# regardless of build-side size, mergeable), broadcast to the probe.
# Every position is an md5-derived integer (the repo's cross-engine hash
# contract), so the bitset — and therefore every bloom decision,
# INCLUDING the false positives — is bit-identical in the SQL oracle; the
# row emits is_exact alongside so the FP rows are visible as is_exact=0.
# ---------------------------------------------------------------------------
_BLOOM_BITS = 32_768
_BLOOM_WORD = 62  # bits per word; max shift 61 keeps both engines in int64
_BLOOM_K = 4
_BLOOM_THRESH = 450_000  # o_totalprice cut: ~1.5k build keys at sf0.01


def _bloom_pos_sql(key_expr: str, j_expr: str) -> str:
    return (
        f"CAST(concat('0x', substring(md5(concat(CAST({key_expr} AS VARCHAR), '#', "
        f"CAST({j_expr} AS VARCHAR))), 1, 15)) AS BIGINT) % {_BLOOM_BITS}"
    )


_SK4_SQL = f"""
WITH filt AS (SELECT o_orderkey FROM orders WHERE o_totalprice > {_BLOOM_THRESH}),
js AS (SELECT unnest(range(0, {_BLOOM_K})) AS j),
bpos AS (SELECT {_bloom_pos_sql('f.o_orderkey', 'js.j')} AS pos
         FROM filt f CROSS JOIN js),
words AS (SELECT pos // {_BLOOM_WORD} AS w,
                 bit_or((1::BIGINT) << CAST(pos % {_BLOOM_WORD} AS INT)) AS word
          FROM bpos GROUP BY 1),
keys AS (SELECT DISTINCT l_orderkey FROM lineitem),
kpos AS (SELECT k.l_orderkey, js.j,
                {_bloom_pos_sql('k.l_orderkey', 'js.j')} AS pos
         FROM keys k CROSS JOIN js),
hit AS (
  SELECT kp.l_orderkey
  FROM kpos kp JOIN words ON words.w = kp.pos // {_BLOOM_WORD}
  WHERE (words.word & ((1::BIGINT) << CAST(kp.pos % {_BLOOM_WORD} AS INT))) <> 0
  GROUP BY kp.l_orderkey HAVING count(DISTINCT kp.j) = {_BLOOM_K})
SELECT h.l_orderkey,
       CAST(CASE WHEN f.o_orderkey IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_exact
FROM hit h LEFT JOIN filt f ON f.o_orderkey = h.l_orderkey
"""


def _bloom_pos_col(key, j: int):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(key.cast("string"), F.lit(f"#{j}"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % _BLOOM_BITS
    )


@q("sk04_bloom_semijoin", _SK4_SQL)
def sk04(spark, sf_dir):
    filt = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > _BLOOM_THRESH)
        .select("o_orderkey")
    )
    k = F.col("o_orderkey")
    bpos = filt.select(
        F.explode(
            F.array(*[_bloom_pos_col(k, j) for j in range(_BLOOM_K)])
        ).alias("pos")
    )
    words = bpos.groupBy(
        F.floor(F.col("pos") / _BLOOM_WORD).alias("w")
    ).agg(
        F.bit_or(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))"
            )
        ).alias("word")
    )
    keys = _t(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    lk = F.col("l_orderkey")
    kpos = keys.select(
        "l_orderkey",
        F.posexplode(
            F.array(*[_bloom_pos_col(lk, j) for j in range(_BLOOM_K)])
        ).alias("j", "pos"),
    )
    hit = (
        kpos.join(
            F.broadcast(words),
            F.floor(F.col("pos") / _BLOOM_WORD) == F.col("w"),
        )
        .filter(
            F.expr(
                f"(word & shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pos % {_BLOOM_WORD} AS INT))) != 0"
            )
        )
        .groupBy("l_orderkey")
        .agg(F.countDistinct("j").alias("nj"))
        .filter(F.col("nj") == _BLOOM_K)
    )
    return hit.join(
        filt.withColumnRenamed("o_orderkey", "l_orderkey").withColumn(
            "mark", F.lit(1)
        ),
        "l_orderkey",
        "left",
    ).select(
        "l_orderkey",
        F.coalesce(F.col("mark"), F.lit(0)).cast("long").alias("is_exact"),
    )


# ---------------------------------------------------------------------------
# SK3 — heavy hitters, EXACT via a Misra-Gries candidate pass (Misra & Gries
# 1982; mergeable-summary form per Agarwal et al., "Mergeable Summaries",
# PODS 2012): per partition, a bounded summary of _HH_COUNTERS counters is
# maintained by batch-merging exact micro-batch counts and, on overflow,
# subtracting the (C+1)-th largest count from all (the vectorized MG
# decrement) — memory O(C) per partition regardless of vocabulary.  Any
# token with partition count > n_p/(C+1) survives its partition's summary,
# so by averaging the union over partitions is a SUPERSET of every token
# with global count > N/(C+1) ⊇ {count·K > N} for K ≤ C+1.  A single exact
# recount restricted to the (tiny, broadcast) candidate set then yields the
# exact answer — the sketch only bounds memory, never the result.
# Decisions are integer-exact: report tokens with cnt·K > N (no division).
# ---------------------------------------------------------------------------
_HH_K = 32          # report tokens with cnt * K > total token count
_HH_COUNTERS = 256  # MG counters per partition; C+1 > K ⇒ lossless superset

_SK3_SQL = f"""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
SELECT term, CAST(count(*) AS BIGINT) AS cnt
FROM toks GROUP BY term
HAVING count(*) * {_HH_K} > (SELECT n FROM n)
"""


@q("sk03_heavyhitters_exact", _SK3_SQL)
def sk03(spark, sf_dir):
    import pandas as pd

    docs = _t(spark, sf_dir, "documents")

    def mg(batches):
        acc = None
        for pdf in batches:
            vc = pdf["text"].str.split(" ").explode().value_counts()
            acc = vc if acc is None else acc.add(vc, fill_value=0)
            if len(acc) > _HH_COUNTERS:
                sub = acc.nlargest(_HH_COUNTERS + 1).iloc[-1]
                acc = acc[acc > sub] - sub
        yield pd.DataFrame({"term": [] if acc is None else acc.index})

    cand = docs.select("text").mapInPandas(mg, "term string").distinct()
    toks = docs.select(F.explode(F.split("text", " ")).alias("term"))
    n_total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(F.broadcast(cand), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(n_total))
        .filter(F.col("cnt") * _HH_K > F.col("n"))
        .select("term", "cnt")
    )


# ---------------------------------------------------------------------------
# TX12 — fixed-stride token chunking (the training-data window cutter that
# feeds tokenizer/packing stages): windows of _CHUNK_LEN tokens every
# _CHUNK_STRIDE (overlap = LEN−STRIDE), last window short.  Pure Catalyst —
# sequence → explode → slice/md5 — zero shuffle, zero Python; embarrassingly
# parallel at any scale.  chunk_hash keys downstream chunk-level dedup.
# ---------------------------------------------------------------------------
_CHUNK_LEN, _CHUNK_STRIDE = 64, 48

_TX12_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST((s - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(s AS BIGINT) AS start_tok,
       CAST(least({_CHUNK_LEN}, len(toks) - s + 1) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(toks, s, s + {_CHUNK_LEN} - 1), ' '))
         AS chunk_hash
FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1, {_CHUNK_STRIDE})) AS s)
"""


@q("tx12_token_chunks", _TX12_SQL)
def tx12(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    rows = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(1), F.size(toks), F.lit(_CHUNK_STRIDE))).alias("s"),
    )
    return rows.select(
        "doc_id",
        F.floor((F.col("s") - 1) / _CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.col("s").cast("long").alias("start_tok"),
        F.least(F.lit(_CHUNK_LEN), F.size("toks") - F.col("s") + 1)
        .cast("long")
        .alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("s"), _CHUNK_LEN)))
        .alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# SAMP3 — deterministic train/val/test split: the assignment every training
# pipeline needs before anything else.  A document's split is a pure
# function of its id — md5 bucket ∈ [0, 1000) → train [0,980) / val
# [980,990) / test [990,1000) — so the split is reproducible under re-runs,
# repartitioning, and engine changes, and any two tables keyed by doc_id
# agree on membership without a join.  Zero shuffle (per-row expression);
# leakage-free by construction (a doc_id maps to exactly one split).
# Near-dup leakage control composes upstream: split on dd08's canonical
# cluster id instead of doc_id to keep whole duplicate clusters together.
# ---------------------------------------------------------------------------
from localsearchengine_spark.plans.splits import (  # noqa: E402
    SPLIT_BUCKETS as _SPLIT_BUCKETS,
    SPLIT_TEST as _SPLIT_TEST,
    SPLIT_VAL as _SPLIT_VAL,
)

_SAMP3_SQL = f"""
WITH b AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_SPLIT_BUCKETS} AS bucket
  FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < {_SPLIT_VAL} THEN 'train'
            WHEN bucket < {_SPLIT_TEST} THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


@q("samp03_train_val_test_split", _SAMP3_SQL)
def samp03(spark, sf_dir):
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _SPLIT_BUCKETS
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", bucket.alias("bucket"))
        .withColumn(
            "split",
            F.when(F.col("bucket") < _SPLIT_VAL, F.lit("train"))
            .when(F.col("bucket") < _SPLIT_TEST, F.lit("val"))
            .otherwise(F.lit("test")),
        )
    )


# ---------------------------------------------------------------------------
# SAMP4 — sequence packing (concat-then-chunk, the GPT-2-style pretraining
# layout): documents in stable doc_id order are laid head-to-tail on one
# token stream and cut every _PACK_BUDGET tokens; each doc gets the packed
# bin it STARTS in and its offset there.  The decision needs a GLOBAL
# ordered prefix sum — the one primitive a naive window computes on a
# single partition (a 100-TB anti-pattern).  Implemented as the classic
# two-phase distributed scan instead:
#   phase 1: per-bucket token totals (bucket = doc_id // chunk, an explicit
#            deterministic range partitioning) — P tiny rows to the driver;
#   phase 2: running offsets per bucket from the broadcast partials +
#            a bucket-local window cumsum (all buckets in parallel).
# Driver state is O(P buckets), never O(rows); every per-row value is an
# exact integer so both engines agree bit-for-bit with the naive
# single-window oracle.
# ---------------------------------------------------------------------------
_PACK_BUDGET = 256
_PACK_BUCKETS = 8

_SAMP4_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM t)
SELECT doc_id, n_tokens,
       CAST(floor(start / {_PACK_BUDGET}) AS BIGINT) AS bin_id,
       CAST(start % {_PACK_BUDGET} AS BIGINT) AS offset_in_bin
FROM c
"""


@q("samp04_sequence_packing", _SAMP4_SQL)
def samp04(spark, sf_dir):
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    n = t.count()  # one scalar; drives the deterministic bucket width
    chunk = max(1, -(-n // _PACK_BUCKETS))
    t = t.withColumn("bucket", (F.col("doc_id") / chunk).cast("long"))
    # phase 1: P partial sums (bounded driver state, P = thousands at 100 TB)
    partials = t.groupBy("bucket").agg(F.sum("n_tokens").alias("s")).collect()
    offs: dict[int, int] = {}
    acc = 0
    for r in sorted(partials, key=lambda r: r["bucket"]):
        offs[int(r["bucket"])] = acc
        acc += int(r["s"])
    off_map = F.create_map(
        *[F.lit(v) for kv in sorted(offs.items()) for v in kv]
    )
    # phase 2: bucket-local cumsum + broadcast bucket offset
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + F.element_at(
        off_map, F.col("bucket")
    )
    return t.select(
        "doc_id",
        "n_tokens",
        F.floor(start / _PACK_BUDGET).cast("long").alias("bin_id"),
        (start % _PACK_BUDGET).cast("long").alias("offset_in_bin"),
    )


# ---------------------------------------------------------------------------
# SIM4 — k-means clustering (2 Lloyd assignment rounds, 1 centroid update):
# the iterative-algorithm shape (the same loop trains the IVF cells sim03
# takes as given).  Spark-first k-means: centroids always live on the
# driver / in broadcast literals (K·D ints, bounded), vectors never leave
# their partitions — each assignment is a per-row Catalyst expression
# (zip_with diff-square + aggregate sum, argmin encoded as
# least(dist·K + cid), zero shuffle, zero Python — the sim03 pattern), and
# the update is ONE map-side-combined hash aggregate on (cid, dim) whose
# K·D-row result is collected.  Every decision is integer-exact:
# quantized inputs (round(x·1000), the sim02-verified idiom), integer
# distances, argmin ties broken by cid, and floor(sum/n) centroid
# components — so the unrolled 2-round SQL oracle matches bit-for-bit.
# Empty clusters drop (standard Lloyd choice, identical on both engines).
# ---------------------------------------------------------------------------
_KM_K = 8
_KM_DIMS = 64

_SIM4_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * 1000) AS BIGINT)) AS qv
  FROM embeddings),
c0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {_KM_K}),
d1 AS (
  SELECT q.vec_id, c0.cid,
         list_sum(list_transform(range(1, {_KM_DIMS + 1}),
             j -> (q.qv[j] - c0.cv[j]) * (q.qv[j] - c0.cv[j]))) AS dist
  FROM q CROSS JOIN c0),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1) WHERE rn = 1),
u1 AS (
  SELECT a1.cid, t.j,
         CAST(floor(sum(q.qv[t.j]) * 1.0 / count(*)) AS BIGINT) AS cvj
  FROM a1 JOIN q USING (vec_id) CROSS JOIN range(1, {_KM_DIMS + 1}) AS t(j)
  GROUP BY a1.cid, t.j),
d2 AS (
  SELECT q.vec_id, u1.cid,
         sum((q.qv[u1.j] - u1.cvj) * (q.qv[u1.j] - u1.cvj)) AS dist
  FROM q CROSS JOIN u1 GROUP BY q.vec_id, u1.cid)
SELECT vec_id, cid, CAST(dist AS BIGINT) AS dist_q FROM (
  SELECT vec_id, cid, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM d2) WHERE rn = 1
"""


def _km_quantized(spark, sf_dir):
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("qv"),
    )


def _km_assign(q, cents):
    """Shuffle-free assignment: argmin over broadcast centroid literals,
    encoded least(dist*K + cid) so the integer tie-break rides along."""
    enc = F.least(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("qv"),
                    F.array(*[F.lit(int(v)) for v in vec]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            * _KM_K
            + F.lit(int(cid))
            for cid, vec in cents
        ]
    )
    return q.select(
        "vec_id",
        "qv",
        (enc % _KM_K).cast("long").alias("cid"),
        F.floor(enc / _KM_K).cast("long").alias("dist_q"),
    )


@q("sim04_kmeans_lloyd", _SIM4_SQL)
def sim04(spark, sf_dir):
    import math

    qv = _km_quantized(spark, sf_dir)
    cents = sorted(
        (int(r["vec_id"]), [int(v) for v in r["qv"]])
        for r in qv.filter(F.col("vec_id") < _KM_K).collect()
    )
    a1 = _km_assign(qv, cents)
    upd = (
        a1.select("cid", F.posexplode("qv").alias("j", "v"))
        .groupBy("cid", "j")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )  # K·D rows — bounded driver state, like any Spark k-means
    by_cid: dict[int, dict[int, int]] = {}
    for r in upd:
        by_cid.setdefault(int(r["cid"]), {})[int(r["j"])] = math.floor(
            int(r["s"]) / int(r["n"])
        )
    cents1 = sorted(
        (cid, [dims[j] for j in range(_KM_DIMS)]) for cid, dims in by_cid.items()
    )
    return _km_assign(qv, cents1).select("vec_id", "cid", "dist_q")


# ---------------------------------------------------------------------------
# SIM5 — MMR diversified retrieval (Carbonell & Goldstein, SIGIR 1998):
# re-rank a relevance-ordered candidate pool so each pick maximizes
# λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the standard de-redundancy pass
# over retrieval results feeding RAG / training-example selection.  The
# two-stage retrieval shape every production system uses: candidate
# generation is DISTRIBUTED (one scan computing integer dot products
# against the broadcast query vector, top-|pool| by (rel desc, vec_id));
# the greedy re-rank is inherently sequential (each pick changes the
# penalty of the rest) and runs driver-side over the BOUNDED pool —
# |pool|·D ints collected, O(k·|pool|) with one |pool|² integer Gram
# matrix.  λ = ½ makes the argmax of ½rel − ½maxsim ≡ argmax of
# (rel − maxsim): every similarity is an int64 dot of round(x·1000)
# quantized vectors, so NO float ever decides a pick (ties → vec_id asc).
# The oracle UNROLLS the k greedy rounds as CTEs (the sim04 pattern) —
# a FULL hash gate on an iterative algorithm, not rows-only.
# ---------------------------------------------------------------------------
_MMR_QID = 0
_MMR_POOL = 20
_MMR_K = 5
_MMR_DIMS = 64


def _mmr_sql(qid: int, pool: int, k: int, dims: int) -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dims + 1}), "
            f"i -> {a}[i] * {b}[i]))"
        )

    rounds, prev = [], []
    for r in range(1, k + 1):
        if not prev:
            rounds.append(
                "s1 AS (SELECT vec_id, rel, qv, rel AS mmr FROM pool "
                "ORDER BY rel DESC, vec_id LIMIT 1)"
            )
        else:
            froms = ", ".join(["pool p"] + prev)
            notin = ", ".join(f"{s}.vec_id" for s in prev)
            dots = [dot("p.qv", f"{s}.qv") for s in prev]
            pen = f"greatest({', '.join(dots)})" if len(dots) > 1 else dots[0]
            rounds.append(
                f"s{r} AS (SELECT p.vec_id, p.rel, p.qv, p.rel - {pen} AS mmr"
                f" FROM {froms} WHERE p.vec_id NOT IN ({notin})"
                f" ORDER BY p.rel - {pen} DESC, p.vec_id LIMIT 1)"
            )
        prev.append(f"s{r}")
    rounds_sql = ",\n".join(rounds)
    union_sql = "\nUNION ALL\n".join(
        f"SELECT {r} AS rank, vec_id, rel, mmr FROM s{r}" for r in range(1, k + 1)
    )
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * 1000) AS BIGINT)) AS qv
  FROM embeddings),
qq AS (SELECT qv FROM q WHERE vec_id = {qid}),
rel AS (
  SELECT q.vec_id, q.qv, CAST({dot("q.qv", "qq.qv")} AS BIGINT) AS rel
  FROM q CROSS JOIN qq WHERE q.vec_id <> {qid}),
pool AS (SELECT vec_id, qv, rel FROM rel ORDER BY rel DESC, vec_id LIMIT {pool}),
{rounds_sql}
SELECT CAST(rank AS BIGINT) AS rank, vec_id, rel, CAST(mmr AS BIGINT) AS mmr
FROM ({union_sql})
"""


@q("sim05_mmr_rerank", _mmr_sql(_MMR_QID, _MMR_POOL, _MMR_K, _MMR_DIMS))
def sim05(spark, sf_dir):
    qv = _km_quantized(spark, sf_dir)
    qvec = [
        int(v)
        for v in qv.filter(F.col("vec_id") == _MMR_QID).collect()[0]["qv"]
    ]  # D ints — bounded
    rel = qv.filter(F.col("vec_id") != _MMR_QID).select(
        "vec_id",
        "qv",
        F.aggregate(
            F.zip_with(
                F.col("qv"),
                F.array(*[F.lit(v) for v in qvec]),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("rel"),
    )
    pool = rel.orderBy(F.desc("rel"), "vec_id").limit(_MMR_POOL).collect()
    V = np.array([list(p["qv"]) for p in pool], dtype=np.int64)
    ids = np.array([int(p["vec_id"]) for p in pool], dtype=np.int64)
    rels = np.array([int(p["rel"]) for p in pool], dtype=np.int64)
    gram = V @ V.T  # |pool|² int64 — the only similarity matrix ever built
    chosen: list[int] = []
    out: list[tuple[int, int, int, int]] = []
    remaining = list(range(len(pool)))
    for r in range(1, _MMR_K + 1):
        best = None
        for i in remaining:
            pen = int(max(gram[i, j] for j in chosen)) if chosen else 0
            mmr = int(rels[i]) - (pen if chosen else 0)
            key = (-mmr, int(ids[i]))
            if best is None or key < best[0]:
                best = (key, i, mmr)
        _, i, mmr = best
        out.append((r, int(ids[i]), int(rels[i]), mmr))
        chosen.append(i)
        remaining.remove(i)
    return spark.createDataFrame(out, "rank long, vec_id long, rel long, mmr long")


# ---------------------------------------------------------------------------
# TX13 — bigram-LM fluency scoring (add-one smoothing): the step up from
# tx07's unigram logprob — P(w2|w1) catches shuffled-word salad that a
# unigram model scores as fluent, a standard quality filter for training
# corpora.  Counts come from ONE bigram hash aggregate (map-side combined)
# + a context marginal + a vocab count; the per-doc score joins bigram
# INSTANCES to the count tables (plain equi joins — the bigram table is
# vocabulary²-bounded and AQE picks broadcast vs shuffle by its real size;
# at 100 TB it shuffles, which is the right call).  Per-doc float sums
# ride the tx07 convention: round(·, 6) value column, never a decision.
# ---------------------------------------------------------------------------
_TX13_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
big AS (
  SELECT doc_id, b.w1, b.w2 FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(tk)),
                                 i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS b
    FROM toks WHERE len(tk) >= 2)),
cb AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS cb FROM big GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM big GROUP BY w1),
v AS (SELECT CAST(count(DISTINCT u.w) AS DOUBLE) AS v
      FROM (SELECT unnest(tk) AS w FROM toks) u)
SELECT big.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(ln((cb.cb + 1.0) / (c1.c1 + v.v))) / count(*), 6)
           AS avg_logprob
FROM big JOIN cb USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
GROUP BY big.doc_id
"""


@q("tx13_bigram_logprob", _TX13_SQL)
def tx13(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    pairs = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.struct(
                F.element_at(tk, i).alias("w1"),
                F.element_at(tk, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("cb"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).cast("double").alias("c1"))
    v = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .agg(F.countDistinct("w").cast("double").alias("v"))
    )
    return (
        big.join(cb, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.log((F.col("cb") + 1.0) / (F.col("c1") + F.col("v"))))
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# SAMP6 — deterministic fixed-size uniform sample: exactly {_SAMP06_N}
# documents chosen by the smallest md5-derived 60-bit keys — the
# reproducible stand-in for reservoir sampling (fixed eval budgets, spot
# audits).  The key is a pure function of doc_id, so the sample is stable
# under reruns, repartitioning, AND incremental growth: a doc already in
# the sample leaves only when a new doc with a smaller key arrives —
# exactly bottom-k-of-hash semantics (the same trick as KMV distinct
# sketches).  Shape for 100 TB: orderBy(key).limit(N) is Spark's
# TakeOrderedAndProject — per-partition top-N then a driver merge of N·P
# rows; the corpus is never globally sorted.  Decision key integer-exact
# via the repo's md5 portability contract; doc_id breaks (impossible at
# 60 bits, but deterministic) ties.
# ---------------------------------------------------------------------------
_SAMP06_N = 200


@q(
    "samp06_fixed_sample",
    f"""SELECT doc_id,
              CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) AS skey
       FROM documents
       ORDER BY skey, doc_id LIMIT {_SAMP06_N}""",
)
def samp06(spark, sf_dir):
    skey = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", skey.alias("skey"))
        .orderBy("skey", "doc_id")
        .limit(_SAMP06_N)
    )

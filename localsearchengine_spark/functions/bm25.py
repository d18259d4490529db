"""A18 — BM25 scoring math (Robertson & Zaragoza 2009), shared by the engine
paths (NumPy, float64) and by the DataFrame-expressible exhaustive scorer.

Reference parity: BASELINE.json:6 "BM25 (k1/b matching the reference)" — the
knobs live in :class:`BM25Config` (SURVEY.md §2.4).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from localsearchengine_spark.config import BM25Config


def tf_norm_np(tf: np.ndarray, dl: np.ndarray, avgdl: float, cfg: BM25Config) -> np.ndarray:
    """tf/(tf + k1*(1-b+b*dl/avgdl)) in float64. Score = idf*(k1+1)*tf_norm."""
    tf = tf.astype(np.float64)
    return tf / (tf + cfg.k1 * (1.0 - cfg.b + cfg.b * dl.astype(np.float64) / avgdl))


def tf_norm_column(tf: Column, dl: Column, avgdl, k1: float, b: float) -> Column:
    """tf/(tf + k1*(1-b+b*dl/avgdl)) as a Catalyst expression — the single
    definition shared by the exhaustive scorer, the distributed batch path,
    and the segment-merge bound recompute."""
    tf = tf.cast("double")
    dl = dl.cast("double")
    return tf / (tf + k1 * (F.lit(1.0) - b + F.lit(b) * dl / avgdl))


def score_column(
    tf: Column, dl: Column, df: Column, n_docs: Column, avgdl: Column, cfg: BM25Config
) -> Column:
    """The same formula as a Catalyst ``Column`` expression (whole-stage
    codegen, JVM-side) — used by the exhaustive DataFrame scorer (A18/B14)."""
    tf = tf.cast("double")
    dl = dl.cast("double")
    df = df.cast("double")
    n_docs = n_docs.cast("double")
    if cfg.idf_variant == "lucene":
        idf = F.log(F.lit(1.0) + (n_docs - df + 0.5) / (df + 0.5))
    elif cfg.idf_variant == "rsj":
        idf = F.log((n_docs - df + 0.5) / (df + 0.5))
    elif cfg.idf_variant == "plain":
        idf = F.log(n_docs / df)
    else:
        raise ValueError(f"unknown idf_variant: {cfg.idf_variant}")
    return idf * (cfg.k1 + 1.0) * tf_norm_column(tf, dl, avgdl, cfg.k1, cfg.b)

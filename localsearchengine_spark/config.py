"""Frozen configuration for the engine.

Every reference-sensitive choice (SURVEY.md §2.4) lives here so that when the
real ``noalac/LocalSearchEngine`` query set becomes available, matching it is
a config flip, not a re-architecture.  Reference parity notes: BASELINE.json:6
mandates "BM25 (k1/b matching the reference)"; the reference's exact k1/b and
``Split.pm`` token rule are unrecoverable in this sandbox (SURVEY.md §0), so
the canonical Okapi defaults are frozen here and exposed as knobs.
"""

from __future__ import annotations

import json
import math
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class BM25Config:
    """The rank-identity contract (SURVEY.md §2.4).

    All scoring is float64; per-doc scores are summed in sorted term order on
    the interactive paths so results are bit-identical across parallelism
    levels.
    """

    k1: float = 1.2
    b: float = 0.75
    # "lucene": ln(1 + (N - df + 0.5)/(df + 0.5))   (non-negative)
    # "rsj":    ln((N - df + 0.5)/(df + 0.5))       (classic Robertson-Sparck Jones)
    # "plain":  ln(N / df)
    idf_variant: str = "lucene"
    lowercase: bool = True
    token_pattern: str = r"[0-9a-z_]+"
    # tie-break for equal scores: doc_id ascending (SURVEY.md §2.4)

    def idf(self, df: float, n_docs: float) -> float:
        if self.idf_variant == "lucene":
            return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        if self.idf_variant == "rsj":
            return math.log((n_docs - df + 0.5) / (df + 0.5))
        if self.idf_variant == "plain":
            return math.log(n_docs / df)
        raise ValueError(f"unknown idf_variant: {self.idf_variant}")

    def idf_sql(self, df_expr: str, n_expr: str) -> str:
        """The same idf as an ANSI-SQL expression (used by oracle queries)."""
        if self.idf_variant == "lucene":
            return f"ln(1.0 + ({n_expr} - {df_expr} + 0.5) / ({df_expr} + 0.5))"
        if self.idf_variant == "rsj":
            return f"ln(({n_expr} - {df_expr} + 0.5) / ({df_expr} + 0.5))"
        if self.idf_variant == "plain":
            return f"ln({n_expr} / {df_expr})"
        raise ValueError(f"unknown idf_variant: {self.idf_variant}")

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "BM25Config":
        return BM25Config(**json.loads(s))


# Upper bound on BuildConfig.num_salts: the emit packs one row per (term,
# doc_id bucket) per Arrow batch, with up to num_salts buckets, so a batch
# splits into up to num_salts rows per term and a larger count would stop
# the emit from packing.
MAX_SALTS = 4096


@dataclass(frozen=True)
class BuildConfig:
    """Index-build knobs (SURVEY.md §2 Part A: A6–A12)."""

    bm25: BM25Config = field(default_factory=BM25Config)
    block_size: int = 128          # postings per compressed block (A8)
    num_partitions: int = 0        # 0 → spark.sql.shuffle.partitions
    # a term with df above this is salted into S_t = min(ceil(df /
    # hot_df_threshold), num_salts) doc_id-range rows (A7)
    hot_df_threshold: int = 50_000
    # 1..MAX_SALTS; caps S_t and the emit's doc_id bucket count C =
    # min(num_salts, ceil(N / hot_df_threshold)): a doc's bucket is
    # (doc_id - base) * C // N, and a hot term's salt is bucket * S_t // C
    num_salts: int = 16
    store_positions: bool = False  # positional postings (phrase queries)

    def __post_init__(self):
        if not 1 <= self.num_salts <= MAX_SALTS:
            raise ValueError(
                f"num_salts must be in [1, {MAX_SALTS}], got {self.num_salts}"
            )

    def to_json(self) -> str:
        d = asdict(self)
        return json.dumps(d, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "BuildConfig":
        d = json.loads(s)
        bm_d = d.pop("bm25")
        # tolerate configs written by a newer version (unknown keys dropped)
        bm_known = {f.name for f in BM25Config.__dataclass_fields__.values()}
        known = {f.name for f in BuildConfig.__dataclass_fields__.values()}
        bm = BM25Config(**{k: v for k, v in bm_d.items() if k in bm_known})
        return BuildConfig(
            bm25=bm, **{k: v for k, v in d.items() if k in known}
        )

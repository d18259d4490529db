"""Deterministic train/val/test split constants, shared by samp03
(plans/training_data.py) and tr03 (plans/transcripts.py).

Kept in a dependency-free module so neither row module has to import
the other.

Split = md5 bucket of the key in [0, SPLIT_BUCKETS): train [0, SPLIT_VAL),
val [SPLIT_VAL, SPLIT_TEST), test [SPLIT_TEST, SPLIT_BUCKETS) — a pure
function of the key, so membership is reproducible under re-runs,
repartitioning, and engine changes, and any two tables sharing the key
agree without a join.
"""

SPLIT_BUCKETS = 1000
SPLIT_VAL = 980
SPLIT_TEST = 990

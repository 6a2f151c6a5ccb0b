"""Reusable column-expression helpers: vector math and text analysis.

Everything here builds pure Catalyst expressions (higher-order array
functions, hashes, regex) — JVM-side, codegen-friendly, no Python in
the per-row path. These are the primitives the Tier C operators
(dedup / similarity / text analysis, SURVEY §2.C) compose.
"""

from etl_spark_eks_spark.functions.vector import (  # noqa: F401
    cosine_similarity,
    dot,
    l2_norm,
    l2_normalize,
)
from etl_spark_eks_spark.functions.text import (  # noqa: F401
    ordered_token_hashes,
    shingle_hashes,
    shingles,
    token_hashes,
    token_stats,
    tokenize,
)

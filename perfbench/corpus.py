"""Seeded synthetic corpora for the benchmark workloads.

Every word is a pure function of (seed, doc id, word position) through
``xxhash64``; nothing uses ``rand()``. The corpus is therefore identical at
any core count and under task retries, and the fixed ``parts`` count fixes
the number of parquet files the engine later scans. Each word position is
its own column expression (no lambda), so generation runs in generated code.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    parts: int
    max_words: int
    # Spark SQL expression for the number of words (<= max_words) in doc `id`.
    n_words: str
    # Spark SQL expression for word `{j}` of doc `id`; `{seed}` is substituted.
    word: str


# 5,000 docs of 10-99 words drawn uniformly from 31 words: the shape of the
# sf0.1 `documents` test fixture (270,704 tokens, 31 distinct words, one
# file), so fixed per-query cost dominates.
FIXTURE = CorpusSpec(
    n_docs=5_000,
    parts=1,
    max_words=99,
    n_words="10 + pmod(xxhash64({seed}, id, -1), 90)",
    word="concat('w', cast(pmod(xxhash64({seed}, id, {j}), 31) AS string))",
)

# Zipf(s~1) ranks over 12,000 words: rank = floor(12000^u), u uniform in
# [0, 1) from the top 53 bits of the hash. The head collapses in the
# map-side partial aggregate.
ZIPF = CorpusSpec(
    n_docs=300_000,
    parts=4,
    max_words=20,
    n_words="20",
    word=(
        "concat('w', cast(floor(pow(12000D, "
        "shiftrightunsigned(xxhash64({seed}, id, {j}), 11) / 9007199254740992D)) AS string))"
    ),
)

# Uniform over 10M word ids, far more than V: almost every map-side token is
# a distinct key, so the partial aggregate barely helps and the shuffle,
# final aggregate and distributed top-V dominate.
HIGHCARD = CorpusSpec(
    n_docs=150_000,
    parts=4,
    max_words=10,
    n_words="10",
    word="concat('w', cast(pmod(xxhash64({seed}, id, {j}), 10000000) AS string))",
)


def corpus(spark: SparkSession, spec: CorpusSpec, seed: int) -> DataFrame:
    """`documents`-shaped DataFrame (doc_id, text) for `spec` and `seed`."""
    seed = int(seed)
    words = ", ".join(spec.word.format(seed=seed, j=j) for j in range(spec.max_words))
    n_words = spec.n_words.format(seed=seed)
    text = f"array_join(slice(array({words}), 1, {n_words}), ' ')"
    return spark.range(0, spec.n_docs, 1, spec.parts).select(
        F.col("id").alias("doc_id"), F.expr(text).alias("text")
    )

"""Top-V vocabulary layer: word counts over a ``text`` column, ranked into a
dictionary with ids 0..V-1."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

VOCAB_SIZE = 10_000


def vocab_from_docs(docs: DataFrame, vocab_size: int = VOCAB_SIZE) -> DataFrame:
    """Top-V vocabulary with deterministic dictionary ids, from a `text` column.

    Spark-first rewrite of the reference repo's wordcount/dictionary spine
    (``src/LDATopicModelingWithGibbs.py:34-68``): tokenize -> explode ->
    hash-agg count -> rank. The global row_number is a single narrow window
    at V rows (post-agg), not over the corpus.

    Shared by the declared query (fixture parquet), the bench's synthetic
    parallelism probe, and the vocab-boundary tests, so every surface times
    and checks the exact same physical plan.

    Raises ``ValueError`` for ``vocab_size < 1``.
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size!r}")
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    # The partial_count HashAggregate below this groupBy (visible in the
    # committed plans) is the skew insurance for the hashpartitioning(word)
    # Exchange: each map task emits at most one row per distinct word, so the
    # Zipfian-head word contributes <= #map-tasks shuffle rows, never
    # corpus-frequency rows. Guarded by tests/test_vocab.py.
    wc = words.filter(F.col("word") != "").groupBy("word").agg(F.count("*").alias("count"))
    # Distributed top-V FIRST (TakeOrderedAndProject: per-partition top-V, then
    # a merge bounded by V x partitions) so the rank below never sees more than
    # V rows. Ranking before limiting would drag the entire corpus vocabulary
    # through one SinglePartition sort — the 100 TB scale-killer. (count, word)
    # is a total order (word is unique post-groupBy), so top-V-then-rank is
    # row-for-row identical to rank-then-take-first-V.
    topv = wc.orderBy(F.desc("count"), F.asc("word")).limit(vocab_size)
    win = Window.orderBy(F.desc("count"), F.asc("word"))
    return (
        topv.withColumn("id", (F.row_number().over(win) - F.lit(1)).cast("long"))
        .select("word", "count", "id")
    )

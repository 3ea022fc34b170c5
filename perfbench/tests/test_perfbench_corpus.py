"""Seeded corpus generator: same seed, same corpus, at any core count.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import os

import pytest

import __spark_entry__ as entry
from perfbench.corpus import HIGHCARD, ZIPF, corpus
from sparklda.session import get_spark

# Scaled-down specs: the same expressions, fewer docs.
SMALL = {
    "zipf": dataclasses.replace(ZIPF, n_docs=20_000),
    "highcard": dataclasses.replace(HIGHCARD, n_docs=20_000),
}


def _topv_at(cpus: int, seeds: list[int]) -> dict:
    old = os.environ.get("SPARK_GRAFT_CPUS")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    try:
        spark = get_spark(f"perfbench-corpus-{cpus}")
        spark.sparkContext.setLogLevel("ERROR")
        assert spark.sparkContext.master == f"local[{cpus}]"
        out = {
            (name, seed): sorted(tuple(r) for r in
                                 entry.vocab_from_docs(corpus(spark, spec, seed)).collect())
            for name, spec in SMALL.items() for seed in seeds
        }
        spark.stop()
        return out
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_CPUS")
        else:
            os.environ["SPARK_GRAFT_CPUS"] = old


@pytest.fixture(scope="module")
def topv():
    return {2: _topv_at(2, [1, 2]), 4: _topv_at(4, [1, 2])}


def test_same_seed_same_topv_at_2_and_4_cores(topv):
    assert topv[2] == topv[4]


def test_different_seed_different_corpus(topv):
    for name in SMALL:
        assert topv[4][(name, 1)] != topv[4][(name, 2)]


def test_workload_shapes(topv):
    # Zipf head: the top word is far more frequent than the median word.
    zipf = sorted((c for _, c, _ in topv[4][("zipf", 1)]), reverse=True)
    assert zipf[0] > 50 * zipf[len(zipf) // 2]
    # High cardinality: V rows, and no word is frequent (uniform over 10M ids).
    high = topv[4][("highcard", 1)]
    assert len(high) == entry.VOCAB_SIZE
    assert max(c for _, c, _ in high) <= 3

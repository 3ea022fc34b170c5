"""Tests for the declared vocab_topv query.

Covers: DuckDB-oracle equivalence on the fixture, on count ties at the V
cutoff and on edge inputs (null, empty and whitespace-only docs, repeated
separators, Unicode), determinism, and the r21 plan-shape guarantee —
top-V is taken *before* any single-partition rank, so the window never sees
more than VOCAB_SIZE rows.
"""

from __future__ import annotations

import re

import duckdb
import pytest

import __spark_entry__ as entry_mod
from plan_text import formatted_plan
from sparklda.session import get_spark
from sparklda.vocab import vocab_from_docs

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sparklda-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _spark_rows(spark):
    df = entry_mod.queries()["vocab_topv"](spark, SF_DIR)
    return sorted(tuple(r) for r in df.collect())


def _oracle_rows(parquet, sql):
    """Sorted rows of DuckDB ``sql`` over a ``documents`` view of ``parquet``."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{parquet}'")
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def test_vocab_topv_matches_duckdb_oracle(spark):
    oracle = _oracle_rows(
        f"{SF_DIR}/documents.parquet", entry_mod.oracle_sql()["vocab_topv"]
    )
    assert _spark_rows(spark) == oracle


def test_vocab_topv_deterministic(spark):
    assert _spark_rows(spark) == _spark_rows(spark)


def test_vocab_topv_schema(spark):
    df = entry_mod.queries()["vocab_topv"](spark, SF_DIR)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("word", "string"),
        ("count", "bigint"),
        ("id", "bigint"),
    ]


def test_vocab_topv_plan_is_scale_safe(spark):
    """The r21 optimization contract: one shuffle total (the groupBy), a
    distributed TakeOrderedAndProject for top-V, and no SinglePartition
    exchange dragging the full vocabulary through one task."""
    df = entry_mod.queries()["vocab_topv"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan
    n_exchange = sum(
        1
        for ln in plan.splitlines()
        if ln.strip().startswith("(") and "Exchange" in ln
    )
    assert n_exchange == 1, plan


def test_vocab_topv_scan_prunes_to_text(spark):
    """Column pruning must reach the parquet scan (guide §6): the documents
    table has 5 columns, the query needs only `text`. A refactor that widens
    ReadSchema silently quintuples scan bytes at 100 TB."""
    df = entry_mod.queries()["vocab_topv"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "ReadSchema: struct<text:string>" in plan, plan


def test_vocab_topv_partial_agg_precedes_shuffle(spark):
    """Skew insurance (guide §2.5): the map-side partial_count HashAggregate
    must sit below the hashpartitioning(word) Exchange, so each map task
    ships at most one row per distinct word — the Zipfian-head word can
    contribute <= #map-tasks shuffle rows, never its corpus frequency."""
    df = entry_mod.queries()["vocab_topv"](spark, SF_DIR)
    plan = formatted_plan(df)
    i_partial = plan.index("partial_count")
    i_exchange = plan.index("hashpartitioning(word")
    # In `formatted` output, operator detail blocks appear bottom-up in
    # execution order, so the partial aggregate's block precedes the
    # Exchange's block iff it executes first (feeds the shuffle).
    assert i_partial < i_exchange, plan


def test_vocab_topv_shuffle_width_is_twice_the_cores(spark):
    """The one shuffle is hash-partitioned on `word` into 2N partitions for a
    local[N] master, so a fixed width cannot come back silently."""
    df = entry_mod.queries()["vocab_topv"](spark, SF_DIR)
    plan = formatted_plan(df)
    widths = re.findall(r"hashpartitioning\(word#\d+, (\d+)\)", plan)
    assert widths and set(widths) == {str(2 * spark.sparkContext.defaultParallelism)}, plan


def test_vocab_rejects_nonpositive_size(spark):
    docs = spark.createDataFrame([("a b a",)], "text string")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="vocab_size"):
            vocab_from_docs(docs, bad)


def _vocab_matches_oracle(spark, tmp_path, rows, v):
    """Write ``rows`` of (doc_id, text) as parquet, run ``vocab_from_docs``
    on it and ``vocab_oracle_sql(v)`` in DuckDB over the same files, assert
    the two row sets are equal and return the Spark rows."""
    pq = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(pq)

    docs = spark.read.parquet(pq)
    srows = sorted(tuple(r) for r in vocab_from_docs(docs, v).collect())

    orows = _oracle_rows(f"{pq}/*.parquet", entry_mod.vocab_oracle_sql(v))
    assert srows == orows
    return srows


def test_vocab_boundary_ties_at_cutoff_match_oracle(spark, tmp_path):
    """ADVICE r21: the fixture corpus has only 31 distinct words, so the
    fixture tests never exercise the top-V cutoff — the only place where
    top-V-then-rank could diverge from the oracle's rank-then-limit. This
    builds a corpus with MORE distinct words than V, including a run of
    count-ties straddling the cutoff, and checks Spark against DuckDB with
    the same parameterized V."""
    v = 10
    counts = {}
    for i in range(5):  # unique head counts: ranks 0..4
        counts[f"hi{i}"] = 100 - i
    for c in "abcdefghij":  # 10-way tie at count 50: ranks 5..14 — the
        counts[f"tie_{c}"] = 50  # cutoff at V=10 falls INSIDE this group
    for i in range(20):  # tail below the cutoff
        counts[f"lo{i:02d}"] = 5
    assert len(counts) == 35 > v
    rows = [(i, " ".join([w] * n)) for i, (w, n) in enumerate(sorted(counts.items()))]

    srows = _vocab_matches_oracle(spark, tmp_path, rows, v)
    assert len(srows) == v
    # the cutoff row really is inside the tie group (tie_a..tie_e kept,
    # tie_f.. dropped by word ASC) — i.e. the boundary was exercised
    kept = {w for w, _, _ in srows}
    assert "tie_e" in kept and "tie_f" not in kept


# Tokens are split on single spaces only, so "\t\n" and "b\ta" are words and
# runs of spaces yield empty tokens, which are dropped. Ten distinct words:
# four tie at count 2 (a, café, 数据, 🙂), so V=3 cuts inside a tie ordered by
# UTF-8 bytes; "café" and "Café" differ only in case and stay two words.
EDGE_DOCS = [
    (0, None),
    (1, ""),
    (2, "   "),
    (3, "\t\n"),
    (4, "a  b\ta"),
    (5, "  lead trail  "),
    (6, "café Café café"),
    (7, "数据 数据 分析"),
    (8, "🙂 a 🙂"),
]
EDGE_DISTINCT_WORDS = 10


@pytest.mark.parametrize("v", [1, 3, EDGE_DISTINCT_WORDS + 5])
def test_vocab_edge_inputs_match_oracle(spark, tmp_path, v):
    srows = _vocab_matches_oracle(spark, tmp_path, EDGE_DOCS, v)
    assert len(srows) == min(v, EDGE_DISTINCT_WORDS)

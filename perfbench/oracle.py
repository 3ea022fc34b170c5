"""DuckDB checks over the parquet corpus the benchmark wrote.

The expected vocabulary comes from the engine's own declared oracle,
``__spark_entry__.oracle_sql()["vocab_topv"]``, run by DuckDB over the same
files the engine scans. The same pass measures the corpus: docs, tokens,
distinct words, and the best map-side combine ratio one task per file can
reach, which fixes each synthetic workload's defining property.
"""

from __future__ import annotations

import glob
import os

import duckdb


def parquet_files(table_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(table_dir, "*.parquet")))


def _connect(table_dir: str, threads: int, spill_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    con.execute("SET preserve_insertion_order = false")
    files = ", ".join(f"'{p}'" for p in parquet_files(table_dir))
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}], filename = true)"
    )
    return con


def expected_rows(table_dir: str, sql: str, threads: int, spill_dir: str) -> list[tuple]:
    con = _connect(table_dir, threads, spill_dir)
    try:
        return sorted(tuple(r) for r in con.execute(sql).fetchall())
    finally:
        con.close()


def corpus_stats(table_dir: str, threads: int, spill_dir: str) -> dict:
    """Docs, tokens, distinct words, files and bytes of the written corpus.

    `combine_ratio` = sum over files of the distinct words in that file,
    divided by tokens: the shuffle records per input token a map-side
    partial aggregate leaves when each file is one map task.
    """
    con = _connect(table_dir, threads, spill_dir)
    try:
        docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
        tokens, distinct, per_file = con.execute(
            "WITH fw AS (SELECT filename, word, count(*) AS c FROM "
            "(SELECT filename, unnest(string_split(text, ' ')) AS word FROM documents) "
            "WHERE word <> '' GROUP BY filename, word) "
            "SELECT sum(c), count(DISTINCT word), count(*) FROM fw"
        ).fetchone()
    finally:
        con.close()
    files = parquet_files(table_dir)
    return {
        "docs": int(docs),
        "tokens": int(tokens),
        "distinct_words": int(distinct),
        "files": len(files),
        "bytes_on_disk": sum(os.path.getsize(p) for p in files),
        "combine_ratio": int(per_file) / int(tokens),
    }

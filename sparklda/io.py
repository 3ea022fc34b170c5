"""Reader for the ``documents`` table and a zstd Parquet writer.

The reader applies an explicit StructType schema, so schema drift is an
error instead of silent corruption and no inference pass is paid. Parquet
(columnar, predicate-pushdown-friendly) is the at-rest format.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Names/types match the fixture tables (TESTDATA.md).
SCHEMAS: dict[str, T.StructType] = {
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
}


def read_table(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """Read ``<sf_dir>/<name>.parquet`` as a DataFrame with its declared schema.

    Raises ``KeyError`` for a table with no declared schema.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(SCHEMAS)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def write_parquet(df: DataFrame, path: str) -> None:
    """Write ``df`` to ``path`` as zstd Parquet, replacing what is there.

    zstd codec per the optimization guide §6: markedly smaller files than
    the snappy default at similar read speed, so every downstream scan of
    anything this engine writes reads fewer bytes.
    """
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)

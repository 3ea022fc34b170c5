"""sparklda — a PySpark-native engine for the text pipeline of the reference
LDA-TopicModeling-using-PySpark repo, re-expressed DataFrame/SQL-first.

The reference is an RDD job with a single-process NumPy collapsed-Gibbs LDA
plus a pandas text-cleaning script. Of its pipeline, only the top-V
vocabulary step exists here so far (``vocab_from_docs`` in
``sparklda/vocab.py``): a declarative DataFrame plan with a map-side
partial aggregate and one hash shuffle, in place of the reference's
``reduceByKey`` wordcount.

Modules
-------
session     ``local[N]`` SparkSession bootstrap (N from ``SPARK_GRAFT_CPUS``)
io          ``documents`` reader with an explicit schema; zstd Parquet writer
vocab       top-V vocabulary with dictionary ids (``vocab_from_docs``)
"""

__version__ = "0.4.0"

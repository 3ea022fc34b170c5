"""Bench harness (driver contract).

Reads the data directory from ``$SPARK_GRAFT_SF_DIR`` and the core count
from ``$SPARK_GRAFT_CPUS`` (master ``local[$SPARK_GRAFT_CPUS]`` via
``sparklda.session.get_spark``), times every ``__spark_entry__.queries()``
entry, and prints exactly ONE JSON line::

    {"metric": ..., "value": N, "unit": "sec", "queries": {name: sec}, "sf": ...}

``queries`` holds exactly the declared ``queries()`` set and ``value`` is
the sum of its medians. Seeded synthetic corpora at scale are benchmarked
by ``perfbench/``, not here.

Methodology (fixed across rounds so numbers stay comparable):

* the timed action is the noop sink (``format("noop")``): it computes every
  row and discards it, so we time the computation, not an output format;
* per query: 1 untimed warmup run (JVM/codegen warm, file listing cached),
  then ``BENCH_RUNS`` timed runs (default 3, at least 1), reporting the median;
* each run is labelled with ``setJobDescription`` so the event log
  attributes time to the right query.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from pyspark.sql import DataFrame

import __spark_entry__ as entry_mod
from sparklda.session import get_spark


def _runs() -> int:
    """Timed runs from ``BENCH_RUNS`` (default 3), checked before the JVM starts."""
    raw = os.environ.get("BENCH_RUNS", "3")
    try:
        n = int(raw)
    except ValueError:
        raise ValueError(f"BENCH_RUNS={raw!r} is not an integer") from None
    if n < 1:
        raise ValueError(f"BENCH_RUNS must be >= 1, got {raw!r}")
    return n


def _sf_from_dir(sf_dir: str) -> float | None:
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail[2:]) if tail.startswith("sf") else None
    except ValueError:
        return None


def time_noop(df: DataFrame) -> float:
    """Wall-clock seconds to compute ``df`` into the noop sink."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    runs = _runs()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("sparklda-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def bench_one(name: str, build) -> float:
        sc = spark.sparkContext
        sc.setJobDescription(f"bench:{name}:warmup")
        time_noop(build())  # untimed; a fresh DataFrame every run
        times = []
        for i in range(runs):
            sc.setJobDescription(f"bench:{name}:run{i}")
            times.append(time_noop(build()))
        sc.setJobDescription(None)
        return round(statistics.median(times), 4)

    per_query: dict[str, float] = {}
    for name, fn in entry_mod.queries().items():
        per_query[name] = bench_one(name, lambda: fn(spark, sf_dir))
    value = round(sum(per_query.values()), 4)

    sf = _sf_from_dir(sf_dir)
    if sf is None:
        print(f"bench: cannot parse scale factor from {sf_dir!r}; "
              'emitting "sf": null', file=sys.stderr)

    out = {"metric": "declared_query_suite_noop_median_sec", "value": value,
           "unit": "sec", "queries": per_query, "sf": sf}
    # The ONE contract line goes to stdout; everything else (Spark logs) is stderr.
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())

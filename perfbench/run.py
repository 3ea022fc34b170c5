"""Corpus -> vocabulary benchmark of the spark-graft engine.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

One process, one client, closed loop: each timed run starts only after the
previous one finished. A run is the engine's public call path, from the call
into the engine to completion of a ``noop`` sink:
``read_table(spark, "documents", dir)`` -> ``vocab_from_docs``. Inputs are
generated from ``--seed`` and written with ``sparklda.io.write_parquet``
during set-up. Outside timing, the declared ``queries()["vocab_topv"]``,
which is that same composition, is collected and checked against DuckDB
running the engine's ``oracle_sql()["vocab_topv"]`` over the written files.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
untraced loop, then restarts the Spark context with the event log enabled,
repeats the loop with every layer call labelled by ``setJobGroup``, and
prints the per-layer metrics read back from the event log;
``trace.overhead_s`` is the traced minus the untraced median. ``--workload
all`` runs every workload in its own process and prints one table.
Human-readable lines start with ``#``; the last line of standard output is
the JSON result.

The engine is configured only from outside: ``SPARK_GRAFT_CPUS`` is pinned
to the usable core count, ``SPARK_LOCAL_DIRS`` and every temporary path
point into a per-run directory under ``.perfbench-work/`` in the checkout,
and the event log is switched on through JVM system properties, which a new
Spark context reads. See ``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import pyspark  # noqa: E402
from pyspark.core.context import SparkContext  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from perfbench import eventlog, oracle  # noqa: E402
from perfbench.corpus import FIXTURE, HIGHCARD, ZIPF, CorpusSpec, corpus  # noqa: E402
from sparklda.io import read_table, write_parquet  # noqa: E402
from sparklda.session import get_spark  # noqa: E402

SETUP_REPS = 3
SCAN_RUNS = 3
MIN_SAMPLES = 3
RUN_TIMEOUT_S = 175


@dataclass(frozen=True)
class Workload:
    spec: CorpusSpec
    # Untimed pipeline runs at the end of set-up, and again after the
    # traced restart.
    warmups: int
    # Defining property: partial_agg_ratio must satisfy (op, bound).
    band: tuple[str, float] | None = None


# BENCHMARK.json gates the last two. fixture_vocab is kept for people and
# for the traced-run test: its latency is mostly driver wake-ups, which
# CPU steal on a shared host inflates by more than its bound (DESIGN.md).
WORKLOADS = {
    "fixture_vocab": Workload(FIXTURE, warmups=15),
    "zipf_scan": Workload(ZIPF, warmups=2, band=("<=", 0.01)),
    "highcard_shuffle": Workload(HIGHCARD, warmups=2, band=(">=", 0.5)),
}


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, for `end_to_end` or `per_layer`, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    return {m["name"]: m["unit"] for m in spec[kind]}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def band_ok(band: tuple[str, float] | None, ratio: float) -> bool:
    if band is None:
        return True
    op, bound = band
    return ratio <= bound if op == "<=" else ratio >= bound


def pin_environment(work: Path) -> None:
    """Configure the engine from outside: cores, local dirs, temp paths."""
    for sub in ("local", "tmp", "events", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        f"--driver-java-options '-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData'",
        "pyspark-shell",
    ])


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """VmHWM of this process plus all its descendants (the Spark JVM)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024.0


def live_memory_mb(spark) -> float:
    """JVM heap in use after a full GC plus this process's resident set:
    the memory the engine holds between runs, independent of GC timing."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    with open("/proc/self/status", encoding="ascii") as f:
        rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return heap.getUsed() / 2**20 + rss_kb / 1024.0


def stop_jvm() -> None:
    """Stop the Spark context and the JVM it launched; wait for it to exit."""
    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def emit(line: str) -> None:
    print(f"# {line}", flush=True)


class Bench:
    """One workload in one process: set-up, timed loop, traced loop, check."""

    def __init__(self, name: str, seed: int, seconds: float, work: Path):
        self.w = WORKLOADS[name]
        self.seed, self.seconds, self.work = seed, seconds, work
        self.data_dir = str(work / "data")
        self.table_dir = os.path.join(self.data_dir, "documents.parquet")
        self.spark = None
        self.traced = False
        # Traced timed runs: (label, call timings, epoch span of the action in ms).
        self.runs: list[tuple[str, dict, tuple[float, float]]] = []

    def build(self, timings: dict | None = None):
        """The corpus->vocabulary DataFrame via the engine's public calls."""
        t0 = time.perf_counter()
        docs = read_table(self.spark, "documents", self.data_dir)
        t1 = time.perf_counter()
        df = entry.vocab_from_docs(docs)
        if timings is not None:
            timings["io.read_table_call_s"] = t1 - t0
            timings["vocab.call_s"] = time.perf_counter() - t1
        return df

    def run_once(self, group: str, label: str) -> float:
        self.spark.sparkContext.setJobGroup(group, label)
        timings: dict | None = {} if self.traced else None
        t0, e0 = time.perf_counter(), time.time()
        self.build(timings).write.format("noop").mode("overwrite").save()
        elapsed, e1 = time.perf_counter() - t0, time.time()
        if self.traced and group == "vocab":
            self.runs.append((label, timings, (e0 * 1000.0, e1 * 1000.0)))
        return elapsed

    def write_corpus(self, label: str) -> float:
        t = time.perf_counter()
        self.spark.sparkContext.setJobGroup("io", label)
        write_parquet(corpus(self.spark, self.w.spec, self.seed), self.table_dir)
        return time.perf_counter() - t

    def warm_up(self) -> float:
        t = time.perf_counter()
        for i in range(self.w.warmups):
            self.run_once("warmup", f"warmup{i}")
        return time.perf_counter() - t

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
        session_ready_s = time.perf_counter() - T_START
        writes = [self.write_corpus(f"write{k}") for k in range(SETUP_REPS)]
        warmup_s = self.warm_up()
        return {
            "session.get_spark_s": get_spark_s,
            "session_ready_s": session_ready_s,
            "io.write_parquet_s": statistics.median(writes),
            "writes_s": writes,
            "warmup_s": warmup_s,
            "setup_s": session_ready_s + statistics.median(writes) + warmup_s,
        }

    def restart_traced(self) -> None:
        """New Spark context in the same JVM, with the event log on; then one
        traced corpus write (for its output bytes) and the warm-ups again."""
        self.spark.stop()
        jvm = SparkContext._jvm
        for key, value in (
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.dir", (self.work / "events").as_uri()),
        ):
            jvm.System.setProperty(key, value)
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.spark.sparkContext.getConf().get("spark.eventLog.enabled") != "true":
            raise RuntimeError("event log did not switch on after the restart")
        self.write_corpus("write_traced")
        self.warm_up()
        self.traced = True

    def measure(self) -> tuple[list[float], int]:
        samples, failed, i = [], 0, 0
        deadline = time.perf_counter() + self.seconds
        # Past the deadline, run on only to reach MIN_SAMPLES, and stop
        # early if runs keep failing.
        while time.perf_counter() < deadline or (len(samples) < MIN_SAMPLES and failed < 3):
            try:
                samples.append(self.run_once("vocab", f"run{i}"))
            except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
                traceback.print_exc()
                failed += 1
            i += 1
        return samples, failed

    def measure_scans(self) -> None:
        """Noop runs of the `text` scan alone, for the io layer's own numbers."""
        for i in range(SCAN_RUNS):
            self.spark.sparkContext.setJobGroup("io", f"scan{i}")
            docs = read_table(self.spark, "documents", self.data_dir)
            docs.select("text").write.format("noop").mode("overwrite").save()

    def check(self) -> tuple[bool, dict, int]:
        """Declared query's result vs the DuckDB oracle, plus corpus measurements."""
        self.spark.sparkContext.setJobGroup("check", "oracle")
        declared = entry.queries()["vocab_topv"](self.spark, self.data_dir)
        got = sorted(tuple(r) for r in declared.collect())
        spill = str(self.work / "tmp")
        want = oracle.expected_rows(
            self.table_dir, entry.oracle_sql()["vocab_topv"], cores(), spill
        )
        stats = oracle.corpus_stats(self.table_dir, cores(), spill)
        return got == want, stats, len(got)


def layer_metrics(b: Bench, stats: dict, rows_out: int, setup: dict, p50: float) -> dict:
    """Per-layer table from the event log of the traced loop."""
    all_stages = eventlog.stages(eventlog.read_events(str(b.work / "events")))
    vocab_stages = eventlog.by_label(all_stages, "vocab")
    io_stages = eventlog.by_label(all_stages, "io")
    per_run = []
    for label, timings, span in b.runs:
        row = dict(timings)
        row.update(eventlog.vocab_run(vocab_stages[label], span, cores()))
        per_run.append(row)
    m = eventlog.medians(per_run)
    scan = eventlog.medians([eventlog.scan_run(io_stages[f"scan{i}"]) for i in range(SCAN_RUNS)])
    written = sum(s.m("output.bytesWritten") for s in io_stages["write_traced"])
    tokens = stats["tokens"]
    out = {
        "session.get_spark_s": setup["session.get_spark_s"],
        "io.write_parquet_s": setup["io.write_parquet_s"],
        "io.bytes_written": written,
        "io.bytes_per_token": written / tokens,
        **scan,
        "io.input_file_bytes": stats["bytes_on_disk"],
        "vocab.driver_share": m["vocab.driver_s"] / p50,
        "vocab.map.self_s": m["vocab.map.wall_s"] - scan["io.scan_s"],
        "vocab.partial_agg_ratio": m["vocab.shuffle.records"] / tokens,
        "vocab.docs_in": stats["docs"],
        "vocab.tokens_in": tokens,
        "vocab.distinct_words": stats["distinct_words"],
        "vocab.rows_out": rows_out,
    }
    out.update(m)
    return out


def env_line(args, java: str) -> str:
    return "env " + json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cores(), "master": f"local[{cores()}]", "spark": pyspark.__version__,
        "java": java, "python": platform.python_version(), "vocab_size": entry.VOCAB_SIZE,
    })


def report_e2e(samples, setup, stats, live, rss, failed_runs, attempted) -> dict:
    p50 = statistics.median(samples)
    p25, p75 = quartiles(samples)
    n = len(samples)
    w25, w75 = quartiles(setup["writes_s"])
    emit(f"e2e latency_s_p50 {p50:.4f} s n={n} p25={p25:.4f} p75={p75:.4f}")
    if n >= 100:
        emit(f"e2e latency_s_p90 {statistics.quantiles(samples, n=10)[8]:.4f} s n={n}")
    else:
        emit(f"e2e latency_s_p90 n/a s n={n} (needs n>=100; raise --seconds)")
    emit(f"e2e tokens_per_s {stats['tokens'] / p50:.1f} tokens/s at {stats['tokens']} tokens")
    emit(f"e2e setup_s {setup['setup_s']:.4f} s = session {setup['session_ready_s']:.3f}"
         f" + median corpus write {setup['io.write_parquet_s']:.3f} (n={SETUP_REPS}"
         f" p25={w25:.3f} p75={w75:.3f}) + warm-ups {setup['warmup_s']:.3f}")
    emit(f"e2e live_memory_mb {live:.1f} MB")
    emit(f"e2e peak_rss_mb {rss:.1f} MB (depends on GC timing; not gated)")
    emit(f"e2e failed_ratio {failed_runs / attempted:.4f} fraction n={attempted}")
    return {
        "latency_s_p50": p50,
        "tokens_per_s": stats["tokens"] / p50,
        "setup_s": setup["setup_s"],
        "live_memory_mb": live,
    }


def run_workload(args) -> int:
    work = ROOT / ".perfbench-work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    b = Bench(args.workload, args.seed, args.seconds, work)
    try:
        phases = {"start": time.perf_counter() - T_START}
        t = time.perf_counter()
        setup = b.setup()
        phases["setup"] = time.perf_counter() - t
        t, steal0 = time.perf_counter(), cpu_steal_s()
        samples, failed = b.measure()
        phases["measure"] = time.perf_counter() - t
        steal_share = (cpu_steal_s() - steal0) / (phases["measure"] * os.cpu_count())
        rss = peak_rss_mb()  # before the DuckDB check, which runs in this process
        live = live_memory_mb(b.spark)
        if args.trace:
            untraced_p50 = statistics.median(samples) if samples else None
            t = time.perf_counter()
            b.restart_traced()
            samples, failed = b.measure()
            b.measure_scans()
            phases["traced"] = time.perf_counter() - t
        t = time.perf_counter()
        ok, stats, rows_out = b.check()
        phases["check"] = time.perf_counter() - t
        java = b.spark.sparkContext._jvm.System.getProperty("java.version")
        t = time.perf_counter()
        stop_jvm()
        phases["stop"] = time.perf_counter() - t
        emit(env_line(args, java))
        emit("input " + json.dumps(stats))
        emit("phases_s " + json.dumps({k: round(v, 3) for k, v in phases.items()})
             + f" cpu_steal_share_while_timed={steal_share:.3f}")
        if not samples or (args.trace and untraced_p50 is None):
            emit("no timed run completed")
            return 1
        attempted = len(samples) + failed
        failed_runs = failed if ok else attempted
        if args.trace:
            p50 = statistics.median(samples)
            values = layer_metrics(b, stats, rows_out, setup, p50)
            values["trace.overhead_s"] = p50 - untraced_p50
            ratio = values["vocab.partial_agg_ratio"]
            emit(f"latency_s_p50 untraced {untraced_p50:.4f} s, traced {p50:.4f} s "
                 f"n={len(samples)}")
            for k, unit in declared_units("per_layer").items():
                emit(f"layer {k} {values[k]:.6g} {unit}")
        else:
            values = report_e2e(samples, setup, stats, live, rss, failed_runs, attempted)
            ratio = stats["combine_ratio"]
        banded = band_ok(b.w.band, ratio)
        emit(f"check oracle={'match' if ok else 'MISMATCH'} partial_agg_ratio={ratio:.5f} "
             f"band={b.w.band} {'ok' if banded else 'VIOLATED'}")
        units = declared_units("per_layer" if args.trace else "end_to_end")
        correct = ok and banded
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed_runs,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }), flush=True)
        return 0 if correct else 1
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's directory is still there


def run_all(args) -> int:
    """Every workload in its own process; one summary table."""
    results, code = {}, 0
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S,
                              check=False)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"[{name}] {line}", flush=True)
        if proc.returncode != 0 or not lines:
            code = 1
            continue
        results[name] = json.loads(lines[-1])
    names = list(results)
    print(f"# {'metric':<28}" + "".join(f"{n:>18}" for n in names), flush=True)
    for k, unit in declared_units("per_layer" if args.trace else "end_to_end").items():
        row = "".join(f"{results[n]['metrics'][k]['value']:>18.6g}" for n in names)
        print(f"# {k:<28}{row}  {unit}", flush=True)
    print(json.dumps(results), flush=True)
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())

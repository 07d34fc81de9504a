"""data_frame_spark benchmark: closed-loop passes over registered queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One client on ``local[nproc]``: each execution is ``QUERIES[name](spark,
sf_dir)`` followed by bench.py's full-row xxhash64 action, and the next
query starts when the previous one has finished. The seed permutes the
query order of every pass; the inputs are the fixed test tables, so the
same seed gives the same run. A run is:

1. set-up, timed as ``setup_s``: session start, JVM warm-up on a trivial
   action and a touch of every input table's footer, as bench.py does;
2. a cold pass over the workload's queries (``cold_pass_s``);
3. one warm-up pass, not measured: the first pass after the cold one
   still runs slower than the ones after it, by how far the JVM's JIT has
   got, and how far that is varies from run to run with host contention;
4. warm passes: as many as fit in ``--seconds`` at the workload's nominal
   pass time (``workloads.json``), at least two. The count does not depend
   on how fast this run goes, so every run of a workload measures the same
   executions.

Every execution's (row count, hash sum) must equal the value recorded in
``expected.json``; a mismatch or an exception counts as a failed query.

The untraced run prints per-query cold and warm times, the machine anchor
(nproc, cores used, bench.cpu_calib before and after) and the end-to-end
metrics: ``setup_s``, ``cold_pass_s``, ``pass_s`` (median warm pass),
``query_p50_s`` (median over the queries of each query's median warm
time), ``query_tail_s`` (n/a: the highest percentile with ten warm samples
beyond it needs more warm samples than a run makes), ``driver_peak_rss_mb``
and ``failed_queries``. The last line is the JSON result; its metrics are
BENCHMARK.json's ``end_to_end`` list.

``--trace 1`` runs with Spark's event log on and four warm passes in the
order traced, untraced, untraced, traced. A traced pass has the event log
attached and the layer wrappers installed (``layers.py``, ``spans.py``);
the per-layer metrics are means per traced pass, and ``trace_overhead``
compares traced with untraced passes. Its JSON metrics are BENCHMARK.json's
``per_layer`` list.

Everything a run writes goes under ``.bench_build/perfbench`` in the
repository root, which is also the working directory of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def load_json(name: str) -> dict:
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file the run writes inside WORK, and let Python
    workers import the program from the repository root."""
    for sub in ("cwd", "tmp", "local", "eventlog"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # every JVM the run starts (spark-submit's launcher and the driver)
    # keeps its temp files and no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(os.path.join(WORK, "cwd"))
    sys.path.insert(0, ROOT)


def input_dirs(source: str) -> dict[str, str]:
    """Input directory per scale factor. sf0.1 is ``source``; sf1 is built
    from it once per checkout into WORK, by whichever run comes first, and
    its row counts are checked from the parquet footers on every run."""
    import inputs

    dst = os.path.join(WORK, "sf1")
    try:
        inputs.check(source, dst)
    except (OSError, RuntimeError):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), source, dst],
            check=True, stdout=subprocess.DEVNULL,
        )
        inputs.check(source, dst)
    return {"sf0.1": source, "sf1": dst}


def result_of(df) -> tuple[int, int | None]:
    """bench.py's full-row action: every output column feeds one
    xxhash64 whose (count, sum) a global aggregate returns. The sum is
    order-independent, so it is the query's result check."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    row = (
        df.select(F.xxhash64(*cols).alias("__h"))
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__h").alias("__s"))
        .collect()[0]
    )
    return row["__n"], row["__s"]


def start_session(extra_conf: dict[str, str]):
    from data_frame_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **extra_conf}
    spark = get_spark("data_frame_spark-perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(spark, data: str) -> None:
    """bench.py's warm-up: a trivial action, then one row of each table."""
    from data_frame_spark.session import TPCH_TABLES, load_table

    spark.range(1).count()
    for tbl in TPCH_TABLES:
        load_table(spark, data, tbl).limit(1).count()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this Python process plus its JVM child."""
    from pyspark import SparkContext

    total = 0.0
    for pid in ("self", SparkContext._gateway.proc.pid):
        with open(f"/proc/{pid}/status") as f:
            total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total / 1024


class Runner:
    """Runs passes and keeps one record per execution."""

    def __init__(self, spark, data: str, queries: list[str], expected: dict):
        from data_frame_spark import queries as Q

        self.spark = spark
        self.data = data
        self.queries = queries
        self.registry = Q.QUERIES
        self.expected = expected
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.tracer = None

    def run_pass(self, order: list[str], kind: str) -> None:
        t0 = time.time()
        for name in order:
            self.records.append(self.execute(name, len(self.passes), kind))
        self.passes.append({"kind": kind, "start": t0, "end": time.time()})

    def execute(self, name: str, pass_index: int, kind: str) -> dict:
        rec = {"name": name, "pass": pass_index, "kind": kind, "start": time.time()}
        qspan = None
        if self.tracer is not None:
            qspan = self.tracer.open("queries", name)
            self.tracer.query_span = qspan.id
        try:
            df = self.registry[name](self.spark, self.data)
            rec["build_end"] = time.time()
            got = list(result_of(df))
            rec["ok"] = got == self.expected[name]
            if not rec["ok"]:
                print(f"# MISMATCH {name}: got {got}, want {self.expected[name]}")
        except Exception as e:  # a failing query is counted, not fatal
            rec.setdefault("build_end", time.time())
            rec["ok"] = False
            print(f"# FAILED {name}: {type(e).__name__}: {e}".splitlines()[0])
        finally:
            rec["end"] = time.time()
            if qspan is not None:
                self.tracer.close(qspan)
                self.tracer.query_span = None
        return rec


#: pass kinds that no warm metric counts
UNMEASURED = ("cold", "warmup")


def per_query_medians(runner: Runner) -> list[float]:
    """Each query's median warm wall time. Their median is the p50: it
    stays inside one query's samples however close the queries' times
    are, where the median of the pooled samples jumps between queries."""
    return [
        statistics.median(r["end"] - r["start"] for r in runner.records
                          if r["kind"] == "warm" and r["name"] == q)
        for q in runner.queries
    ]


def end_to_end(runner: Runner, setup_s: float, peak_mb: float) -> dict:
    cold = runner.passes[0]
    warm = [p for p in runner.passes if p["kind"] == "warm"]
    n_warm = sum(r["kind"] == "warm" for r in runner.records)
    failed = sum(not r["ok"] for r in runner.records)
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (cold["end"] - cold["start"], "s"),
        "pass_s": (statistics.median(p["end"] - p["start"] for p in warm), "s"),
        "query_p50_s": (statistics.median(per_query_medians(runner)), "s"),
        "query_tail_s": (float("nan"), "s",
                         f"n/a: {n_warm} warm samples, a tail needs more than 10"),
        "driver_peak_rss_mb": (peak_mb, "MB"),
        "failed_queries": (failed, "count", f"of {len(runner.records)} attempted"),
    }


#: rows that add up to a traced pass's wall time
WALL_SPLIT = ("queries.build.driver_s", "queries.build.job_s", "queries.exec.job_s",
              "queries.exec.gap_s", "harness.remainder_s")
#: span layers that read 0 on a workload that never calls them
SPAN_LAYERS = ("operators.", "oracle_prep.", "session.", "sources.")


def print_metric(name: str, value: float, unit: str, note: str = "") -> None:
    print(f"  {name:<34} {value:>14.4f} {unit:<6} {note}")


def print_report(runner: Runner, result: dict, trace: int) -> None:
    """Per-query times, then every metric of ``result`` with its unit."""
    for q in runner.queries:
        recs = [r for r in runner.records if r["name"] == q]
        warm = [r for r in recs if r["kind"] not in UNMEASURED]
        print(f"  query {q:<34} cold {recs[0]['end'] - recs[0]['start']:7.3f} s  warm median "
              f"{statistics.median(r['end'] - r['start'] for r in warm):7.3f} s (build "
              f"{statistics.median(r['build_end'] - r['start'] for r in warm):.3f} s)")
    if trace:
        print("  query wall per traced pass = build with no job + build with a job"
              " + exec with a job + exec with no job; pass wall adds the harness remainder")
        for name in WALL_SPLIT:
            print_metric(name, *result[name])
        print(f"  {'pass wall (sum of the above)':<34} "
              f"{sum(result[n][0] for n in WALL_SPLIT):>14.4f} s")
    for name, (value, unit, *note) in sorted(result.items()):
        if name not in WALL_SPLIT:
            print_metric(name, value, unit, *note)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    spec = load_json("workloads.json")
    bench_spec = load_json("../BENCHMARK.json")
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}; known: {sorted(spec['workloads'])}",
              file=sys.stderr)
        return 2
    wl = spec["workloads"][args.workload]
    prepare_env()
    import bench

    data = input_dirs(bench.SF_DIR)[wl["sf"]]
    expected = load_json("expected.json")[wl["sf"]]
    rng = random.Random(args.seed)
    cores = nproc()
    calib_pre = bench.cpu_calib()

    conf = {}
    evdir = os.path.join(WORK, "eventlog", f"{os.getpid()}")
    if args.trace:
        os.makedirs(evdir, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + evdir,
        }
    t0 = time.time()
    spark = start_session(conf)
    setup(spark, data)
    setup_s = time.time() - t0

    runner = Runner(spark, data, wl["queries"], expected)
    order = lambda: rng.sample(runner.queries, len(runner.queries))  # noqa: E731
    try:
        if args.trace:
            import layers

            traced = layers.TracedRun(runner)
            traced.run_passes(order)
        else:
            warm = max(2, round(args.seconds / wl["nominal_pass_s"]))
            for kind in ["cold", "warmup"] + ["warm"] * warm:
                runner.run_pass(order(), kind)
        peak_mb = peak_rss_mb()
    finally:
        stop_session(spark)
    if args.trace:
        result = traced.metrics(layers.finished_log(evdir), cores)
        result["driver.peak_rss_mb"] = (peak_mb, "MB")
    else:
        result = end_to_end(runner, setup_s, peak_mb)
    calib_post = bench.cpu_calib()

    kinds = [p["kind"] for p in runner.passes]
    print(f"# workload {args.workload} seed {args.seed}: sf {wl['sf']}, "
          f"{len(runner.queries)} queries, {len(kinds)} passes ("
          + ", ".join(f"{kinds.count(k)} {k}" for k in dict.fromkeys(kinds)) + ")")
    print(f"# machine: nproc {cores}, local[{cores}], cpu_calib "
          f"{calib_pre:.3f} s before / {calib_post:.3f} s after (about 1 s uncontended)")
    print_report(runner, result, args.trace)
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in bench_spec[section]:
        name = m["name"]
        if name not in result and not name.startswith(SPAN_LAYERS):
            raise KeyError(f"the run produced no metric {name!r}")
        metrics[name] = {"value": result.get(name, (0.0,))[0], "unit": m["unit"]}
    failed = sum(not r["ok"] for r in runner.records)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runner.records),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Record the benchmark's reference data.

``expected``: each workload query's expected result into expected.json.
The result is bench.py's full-row action: (row count, order-independent
sum of the xxhash64 of every output row). Record only at a commit whose
registry is oracle-green (``tools/check_oracle.py``); every benchmark
run then checks each execution against these values.

``fixture``: the event-log fixture of test_layers.py. One session at
sf0.1 runs FIXTURE_QUERIES once each with the event log on, setting the
query name as job group on the calling thread (as
``tools/profile_queries.py`` does), and writes the trimmed log and the
query windows under fixtures/.

``table``: the per-layer table of workloads.json from the stdout of
``--trace 1`` runs (one or more per workload, named on the command line):
each metric's mean value per traced pass in each workload, and from those
the workload it is mostly in and the one it is little in (see ``where``).

Usage (from the repository root):

    python3 perfbench/record.py expected|fixture
    python3 perfbench/record.py table TRACED_RUN_STDOUT...
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import layers
import run


FIXTURE_QUERIES = ("pricing_summary", "histogram_family")
FIXTURE_DIR = os.path.join(run.HERE, "fixtures")
#: event fields the fold does not read; dropped to keep the fixture small
HEAVY_KEYS = ("physicalPlanDescription", "Stage Infos", "Task Executor Metrics",
              "Spark Properties", "System Properties", "Classpath Entries")


def trim(ev: dict, sf_dir: str) -> str:
    """One fixture line: ``ev`` without HEAVY_KEYS, with host paths
    replaced by placeholders."""
    ev = {k: v for k, v in ev.items() if k not in HEAVY_KEYS}
    if "Properties" in ev:
        ev["Properties"] = {k: v for k, v in ev["Properties"].items()
                            if k == "spark.jobGroup.id"}
    line = json.dumps(ev)
    return line.replace(sf_dir.rstrip("/"), "<sf_dir>").replace(run.ROOT, "<repo>")


def record_fixture() -> None:
    import glob
    import gzip
    import time


    run.prepare_env()
    import bench
    from data_frame_spark import queries as Q

    evdir = os.path.join(run.WORK, "eventlog", "fixture")
    os.makedirs(evdir, exist_ok=True)
    for old in glob.glob(os.path.join(evdir, "*")):
        os.remove(old)
    spark = run.start_session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + evdir,
    })
    records = []
    try:
        sc = spark.sparkContext
        for name in FIXTURE_QUERIES:
            sc.setJobGroup(name, name)
            rec = {"name": name, "start": time.time()}
            df = Q.QUERIES[name](spark, bench.SF_DIR)
            rec["build_end"] = time.time()
            run.result_of(df)
            rec["end"] = time.time()
            records.append(rec)
        sc.setJobGroup("", "")
    finally:
        run.stop_session(spark)
    (log,) = glob.glob(os.path.join(evdir, "*"))
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    with gzip.open(os.path.join(FIXTURE_DIR, "eventlog.json.gz"), "wt") as f:
        for ev in layers.read_events(log):
            f.write(trim(ev, bench.SF_DIR) + "\n")
    with open(os.path.join(FIXTURE_DIR, "windows.json"), "w") as f:
        json.dump(records, f, indent=1)
        f.write("\n")
    for rec in records:
        jobs = layers.fold_events(layers.read_events(log), [rec], run.nproc())["spark.jobs"]
        print(f"{rec['name']}: {jobs:.0f} jobs in its window")


#: a time below this share of the workload's traced query wall barely shows
BARELY_SHARE = 0.02
#: a metric is mostly in one workload when it is this many times the other
MOSTLY_RATIO = 1.5
#: metrics that measure the tracer, not a layer
NOT_A_LAYER = ("trace_overhead",)


def where(name: str, per_pass: dict[str, float], wall: dict[str, float]) -> tuple[str, str]:
    """(mostly_in, little_in) of a metric from its per-pass values in two
    workloads; ``wall`` is each workload's traced query wall per pass.
    A time below BARELY_SHARE of the wall, or any other value of 0,
    barely shows."""
    if name in NOT_A_LAYER:
        return "both", "none"
    (a, va), (b, vb) = per_pass.items()
    unit = layers.unit_of(name)

    def barely(w, v):
        return v <= BARELY_SHARE * wall[w] if unit == "s" else v == 0

    if barely(a, va) and barely(b, vb):
        return "neither", "both"
    if barely(b, vb) or va >= MOSTLY_RATIO * vb:
        return a, b
    if barely(a, va) or vb >= MOSTLY_RATIO * va:
        return b, a
    return "both", "none"


def record_table(paths: list[str]) -> None:
    spec = run.load_json("workloads.json")
    runs: dict[str, list[dict]] = {}
    for path in paths:
        with open(path) as f:
            lines = f.read().splitlines()
        workload = lines[0].split()[2]
        runs.setdefault(workload, []).append(json.loads(lines[-1])["metrics"])
    if sorted(runs) != sorted(spec["workloads"]):
        raise SystemExit(f"need traced runs of {sorted(spec['workloads'])}, got {sorted(runs)}")
    per_pass = {
        name: {w: float(f"{statistics.mean(r[name]['value'] for r in runs[w]):.4g}")
               for w in spec["workloads"]}
        for name in spec["per_layer"]
    }
    table = {}
    for name, row in spec["per_layer"].items():
        mostly, little = where(name, per_pass[name], per_pass["queries.wall_s"])
        table[name] = {"moves": row["moves"], "per_pass": per_pass[name],
                       "mostly_in": mostly, "little_in": little}
    spec["per_layer"] = table
    with open(os.path.join(run.HERE, "workloads.json"), "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")


def record_expected() -> None:
    spec = run.load_json("workloads.json")
    run.prepare_env()
    import bench
    from data_frame_spark import queries as Q

    dirs = run.input_dirs(bench.SF_DIR)
    out: dict[str, dict[str, list]] = {}
    for sf in sorted({wl["sf"] for wl in spec["workloads"].values()}):
        names = sorted({q for wl in spec["workloads"].values() if wl["sf"] == sf
                        for q in wl["queries"]})
        data = dirs[sf]
        spark = run.start_session({})
        try:
            out[sf] = {n: list(run.result_of(Q.QUERIES[n](spark, data))) for n in names}
        finally:
            run.stop_session(spark)
        print(f"{sf}: {len(names)} queries recorded")
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:] == ["expected"]:
        record_expected()
    elif sys.argv[1:] == ["fixture"]:
        record_fixture()
    elif sys.argv[1:2] == ["table"] and sys.argv[2:]:
        record_table(sys.argv[2:])
    else:
        sys.exit(__doc__)

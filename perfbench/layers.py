"""The traced run and the fold from Spark event log to per-layer metrics.

Spark jobs, stages and tasks are attributed to a query by the query's
wall-clock window, never by job group: jobs started from a family's
facet thread pool carry no job group of the caller, and counting by
group misses them. Queries run one at a time, so the windows do not
overlap.
"""

from __future__ import annotations

import bisect
import glob
import gzip
import json
import os
import shutil
import statistics

from spans import Tracer, fold_spans, union_length

#: SQL metric names the fold reads from task and driver accumulator updates
SCAN_TIME = "scan time"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
WRITTEN_FILES = "number of written files"


def read_events(path: str) -> list[dict]:
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as f:
        return [json.loads(line) for line in f if line.strip()]


def _plan_metrics(info: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"], m["metricType"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _num(v) -> float:
    return float(v) if v is not None else 0.0


class Windows:
    """Maps a timestamp in ms to the query record whose window holds it."""

    def __init__(self, records: list[dict]):
        self.records = sorted(records, key=lambda r: r["start"])
        self.starts = [r["start"] for r in self.records]

    def find(self, ms: float) -> dict | None:
        t = ms / 1000.0
        i = bisect.bisect_right(self.starts, t + 0.001) - 1
        if i >= 0 and t <= self.records[i]["end"] + 0.001:
            return self.records[i]
        return None


def skipped(stage: int, job: dict, first_submitted: dict[int, float]) -> bool:
    """Whether ``job`` skipped ``stage``: the stage never ran, or it first
    ran before the job was submitted. A job that reuses a shuffle gets
    either a fresh stage ID that is never submitted or, while the job
    that ran the shuffle is still active, that job's stage ID."""
    first = first_submitted.get(stage)
    return first is None or first < job["start"]


def fold_events(events: list[dict], records: list[dict], cores: int) -> dict[str, float]:
    """Totals over the query windows in ``records`` (not per pass).

    Besides the engine metrics, the result splits query wall time into
    build time with no job running (``queries.build.driver_s``), build
    time with a job running, exec time with a job running and exec time
    with none; ``spark.job_gap_s`` is the sum of the two idle parts.
    Raises ValueError when a job in a window has no JobEnd: its events
    were cut off, and every total of its query would be short.
    """
    win = Windows(records)
    acc_type: dict[int, tuple[str, str, str]] = {}
    exec_window: dict[int, dict | None] = {}
    driver_acc: dict[tuple[int, int], float] = {}
    jobs: dict[int, dict] = {}
    first_submitted: dict[int, float] = {}
    m = dict.fromkeys((
        "spark.jobs", "spark.unattributed_jobs", "spark.stages", "spark.stages_skipped",
        "spark.tasks", "spark.tasks_failed", "spark.sched_delay_s", "spark.task_deser_s",
        "spark.task_s", "spark.task_cpu_s", "scan.bytes", "scan.rows", "scan.time_s",
        "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.write_s",
        "shuffle.fetch_wait_s", "spill.bytes", "output.bytes", "output.files",
        "broadcast.bytes", "python.run_s", "python.bytes_out", "python.bytes_in",
        "queries.build.jobs",
    ), 0.0)
    task_sql: list[tuple[int, float]] = []

    for ev in events:
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev["sparkPlanInfo"], acc_type)
            if "time" in ev:
                exec_window[ev["executionId"]] = win.find(ev["time"])
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            for sm in ev["sqlPlanMetrics"]:
                acc_type.setdefault(sm["accumulatorId"], ("", sm["name"], sm["metricType"]))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev["accumUpdates"]:
                driver_acc[(ev["executionId"], acc_id)] = _num(value)
        elif kind == "SparkListenerJobStart":
            rec = win.find(ev["Submission Time"])
            jobs[ev["Job ID"]] = {"rec": rec, "start": ev["Submission Time"] / 1000.0,
                                  "stages": ev.get("Stage IDs", [])}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            submitted = info.get("Submission Time") or 0
            first_submitted.setdefault(info["Stage ID"], submitted / 1000.0)
            if win.find(submitted):
                m["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if win.find(info["Launch Time"]) is None:
                continue
            m["spark.tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                m["spark.tasks_failed"] += 1
            tm = ev.get("Task Metrics") or {}
            run_ms = tm.get("Executor Run Time", 0)
            deser_ms = tm.get("Executor Deserialize Time", 0)
            ser_ms = tm.get("Result Serialization Time", 0)
            finish = info["Finish Time"]
            getting = info.get("Getting Result Time", 0)
            fetch_result_ms = finish - getting if getting else 0
            m["spark.sched_delay_s"] += max(
                0, finish - info["Launch Time"] - run_ms - deser_ms - ser_ms - fetch_result_ms
            ) / 1e3
            m["spark.task_deser_s"] += deser_ms / 1e3
            m["spark.task_s"] += run_ms / 1e3
            m["spark.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            inp = tm.get("Input Metrics", {})
            m["scan.bytes"] += inp.get("Bytes Read", 0)
            m["scan.rows"] += inp.get("Records Read", 0)
            sw = tm.get("Shuffle Write Metrics", {})
            m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["shuffle.write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
            sr = tm.get("Shuffle Read Metrics", {})
            m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            m["spill.bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["output.bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            for a in info.get("Accumulables", []):
                if "Update" in a:
                    task_sql.append((a["ID"], _num(a["Update"])))

    # SQL metrics: plan nodes give each accumulator's name and unit;
    # all plan events are read first because AQE re-plans mid-run
    for acc_id, update in task_sql:
        _, name, mtype = acc_type.get(acc_id, ("", "", ""))
        if name == SCAN_TIME:
            m["scan.time_s"] += update / (1e9 if mtype == "nsTiming" else 1e3)
        elif name == PY_RUN:
            m["python.run_s"] += update / (1e9 if mtype == "nsTiming" else 1e3)
        elif name == PY_SENT:
            m["python.bytes_out"] += update
        elif name == PY_RETURNED:
            m["python.bytes_in"] += update
    for (exec_id, acc_id), value in driver_acc.items():
        if exec_window.get(exec_id) is None:
            continue
        node, name, _ = acc_type.get(acc_id, ("", "", ""))
        if node == "BroadcastExchange" and name == "data size":
            m["broadcast.bytes"] += value
        elif name == WRITTEN_FILES:
            m["output.files"] += value

    busy: dict[int, list[tuple[float, float]]] = {}
    for job_id, job in jobs.items():
        rec = job["rec"]
        if rec is None:
            m["spark.unattributed_jobs"] += 1
            continue
        if "end" not in job:
            raise ValueError(f"job {job_id} has no JobEnd in the event log")
        m["spark.jobs"] += 1
        if job["start"] <= rec["build_end"]:
            m["queries.build.jobs"] += 1
        m["spark.stages_skipped"] += sum(skipped(s, job, first_submitted) for s in job["stages"])
        busy.setdefault(id(rec), []).append((job["start"], job["end"]))

    split = dict.fromkeys(("queries.build.driver_s", "queries.build.job_s",
                           "queries.exec.job_s", "queries.exec.gap_s"), 0.0)
    wall = 0.0
    for rec in records:
        iv = busy.get(id(rec), [])
        b_busy = union_length([(max(a, rec["start"]), min(b, rec["build_end"])) for a, b in iv])
        e_busy = union_length([(max(a, rec["build_end"]), min(b, rec["end"])) for a, b in iv])
        split["queries.build.job_s"] += b_busy
        split["queries.build.driver_s"] += rec["build_end"] - rec["start"] - b_busy
        split["queries.exec.job_s"] += e_busy
        split["queries.exec.gap_s"] += rec["end"] - rec["build_end"] - e_busy
        wall += rec["end"] - rec["start"]
    m.update(split)
    m["spark.job_gap_s"] = split["queries.build.driver_s"] + split["queries.exec.gap_s"]
    m["spark.slot_util"] = m["spark.task_s"] / (cores * wall) if wall else 0.0
    return m


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


class EventLogSwitch:
    """Attach or detach the running context's event-log listener, so
    untraced passes write no events."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self.bus = sc.listenerBus()
        self.listener = sc.eventLogger().get()
        self.attached = True

    def set(self, on: bool) -> None:
        if on and not self.attached:
            self.bus.addToEventLogQueue(self.listener)
        elif not on and self.attached:
            # detaching stops the listener's queue and drops what it still
            # holds, such as the last query's task, job and SQL metric events
            self.bus.waitUntilEmpty()
            self.bus.removeListener(self.listener)
        self.attached = on


#: warm pass kinds of a traced run; the symmetric order cancels a steady
#: drift between the first and the last pass
TRACED_PASSES = ("traced", "untraced", "untraced", "traced")


class TracedRun:
    """The passes of a traced run and the fold of what they recorded."""

    def __init__(self, runner):
        self.runner = runner
        self.tracer = Tracer()
        self.gc_s = 0.0
        self.n_wrapped = 0

    def run_passes(self, order) -> None:
        """A cold pass with the event log detached, then TRACED_PASSES;
        ``order()`` gives each pass's query order."""
        runner = self.runner
        switch = EventLogSwitch(runner.spark)
        switch.set(False)
        runner.run_pass(order(), "cold")
        for kind in TRACED_PASSES:
            if kind == "untraced":
                runner.run_pass(order(), kind)
                continue
            switch.set(True)
            self.n_wrapped = self.tracer.install()
            runner.tracer = self.tracer
            gc0 = jvm_gc_s(runner.spark)
            try:
                runner.run_pass(order(), kind)
            finally:
                self.gc_s += jvm_gc_s(runner.spark) - gc0
                runner.tracer = None
                self.tracer.uninstall()
                switch.set(False)

    def metrics(self, events: list[dict], cores: int) -> dict:
        """Per-layer metrics as (value, unit[, note]), per traced pass."""
        runner = self.runner
        traced = [r for r in runner.records if r["kind"] == "traced"]
        n = TRACED_PASSES.count("traced")
        totals = fold_events(events, traced, cores)
        totals["gc.s"] = self.gc_s
        totals["queries.build.s"] = sum(r["build_end"] - r["start"] for r in traced)
        totals["queries.exec.s"] = sum(r["end"] - r["build_end"] for r in traced)
        totals["queries.wall_s"] = sum(r["end"] - r["start"] for r in traced)
        passes = {k: [p["end"] - p["start"] for p in runner.passes if p["kind"] == k]
                  for k in ("traced", "untraced")}
        totals["harness.remainder_s"] = sum(passes["traced"]) - totals["queries.wall_s"]
        for layer, rec in fold_spans(self.tracer.spans).items():
            if layer != "queries":
                for key, v in rec.items():
                    totals[f"{layer}.{key}"] = v

        out = {k: (v / n, unit_of(k)) for k, v in totals.items() if k != "spark.slot_util"}
        out["spark.slot_util"] = (totals["spark.slot_util"], "ratio")
        overhead = statistics.median(passes["traced"]) / statistics.median(passes["untraced"]) - 1
        out["trace_overhead"] = (
            overhead, "ratio",
            f"{n} traced vs {len(passes['untraced'])} untraced warm passes, "
            f"{self.n_wrapped} functions wrapped",
        )
        return out


def finished_log(evdir: str) -> list[dict]:
    """Events of the one finished log in ``evdir``; logs of earlier runs
    beside it are removed."""
    logs = [p for p in glob.glob(os.path.join(evdir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {evdir}, found {logs}")
    for old in glob.glob(os.path.join(os.path.dirname(evdir), "*")):
        if old != evdir:
            shutil.rmtree(old, ignore_errors=True)
    return read_events(logs[0])


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"

"""Per-stage view of a Spark event log, grouped by SQL execution.

Usage: python3 tools/eventlog_stages.py EVENTLOG [--top N]

EVENTLOG is an uncompressed Spark event log: one file of JSON lines, or
the `eventlog_v2_<app-id>` directory of a rolling log (Spark 4's
default), whose `events_<n>_...` files are read in order of n. To get
one from any JVM that runs Spark, with no source change:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=file:/some/dir -Dspark.eventLog.compress=false" ...

For each SQL execution it prints its id, wall time and call site, then
one line per stage of the jobs it ran:

    tasks  the stage's task count
    wall   stage completion minus submission time
    run    summed executor run time of its tasks
    cpu    summed executor CPU time
    deser  summed executor deserialize time
    rec_in / rec_out  records read (input + shuffle) and written
                      (output + shuffle)

All times are milliseconds. Stages of jobs outside any SQL execution are
listed under execution `-`. `--top N` keeps the N executions with the
longest wall time, in execution order.
"""
import argparse
import json
import os
import re

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


class Stage:
    def __init__(self, stage_id):
        self.id = stage_id
        self.tasks = 0
        self.wall_ms = 0
        self.run_ms = 0
        self.cpu_ns = 0
        self.deser_ms = 0
        self.rec_in = 0
        self.rec_out = 0


def _metric(metrics, group, name):
    return (metrics.get(group) or {}).get(name, 0)


def read(lines):
    """(executions, stages): executions maps id -> {site, wall_ms, stages},
    stages maps stage id -> Stage. Execution `-` collects stages of jobs
    outside any SQL execution.
    """
    executions = {}
    stages = {}
    exec_of_stage = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == SQL_START:
            executions[ev["executionId"]] = {
                "site": ev.get("description") or "", "start": ev.get("time"),
                "wall_ms": None, "stages": []}
        elif kind == SQL_END:
            ex = executions.get(ev["executionId"])
            if ex is not None and ex["start"] is not None:
                ex["wall_ms"] = ev["time"] - ex["start"]
        elif kind == "SparkListenerJobStart":
            prop = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            exec_id = int(prop) if prop not in (None, "") else "-"
            for sid in ev.get("Stage IDs", []):
                exec_of_stage.setdefault(sid, exec_id)
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.deser_ms += m.get("Executor Deserialize Time", 0)
            st.rec_in += (_metric(m, "Input Metrics", "Records Read")
                          + _metric(m, "Shuffle Read Metrics", "Total Records Read"))
            st.rec_out += (_metric(m, "Output Metrics", "Records Written")
                           + _metric(m, "Shuffle Write Metrics", "Shuffle Records Written"))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            if sub is not None and done is not None:
                st.wall_ms = done - sub
    for sid in sorted(stages):
        exec_id = exec_of_stage.get(sid, "-")
        ex = executions.setdefault(
            exec_id, {"site": "(no SQL execution)", "start": None, "wall_ms": None,
                      "stages": []})
        ex["stages"].append(sid)
    return executions, stages


def report(executions, stages, top=None):
    """The printed lines, executions in id order (`-` last)."""
    ids = sorted(executions, key=lambda e: (e == "-", e if e != "-" else 0))
    if top is not None:
        keep = set(sorted(ids, key=lambda e: -(executions[e]["wall_ms"] or 0))[:top])
        ids = [e for e in ids if e in keep]
    out = []
    for e in ids:
        ex = executions[e]
        wall = "-" if ex["wall_ms"] is None else f"{ex['wall_ms']} ms"
        out.append(f"exec {e}  {wall}  {ex['site']}")
        for sid in ex["stages"]:
            st = stages[sid]
            out.append(
                f"  stage {st.id:<5d} tasks {st.tasks:<4d} wall {st.wall_ms:<6d} "
                f"run {st.run_ms:<7d} cpu {st.cpu_ns // 1000000:<7d} "
                f"deser {st.deser_ms:<6d} rec_in {st.rec_in:<9d} rec_out {st.rec_out}")
    return out


def log_lines(path):
    """The lines of a log file, or of a rolling log directory's event
    files in order."""
    if not os.path.isdir(path):
        with open(path, encoding="utf-8") as f:
            yield from f
        return
    parts = [(int(m.group(1)), name) for name in os.listdir(path)
             for m in [re.match(r"events_(\d+)_", name)] if m]
    for _, name in sorted(parts):
        with open(os.path.join(path, name), encoding="utf-8") as f:
            yield from f


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("eventlog")
    ap.add_argument("--top", type=int, default=None,
                    help="keep the N executions with the longest wall time")
    args = ap.parse_args(argv)
    executions, stages = read(log_lines(args.eventlog))
    for line in report(executions, stages, args.top):
        print(line)


if __name__ == "__main__":
    main()

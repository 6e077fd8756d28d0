"""Run: python3 -m unittest discover -s tools -p 'test_*.py'"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import eventlog_stages

SQL = "org.apache.spark.sql.execution.ui."


def task_end(stage, run, cpu_ms, deser, rec_in=0, shuffle_in=0, rec_out=0, shuffle_out=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Metrics": {
                "Executor Deserialize Time": deser, "Executor Run Time": run,
                "Executor CPU Time": cpu_ms * 1000000,
                "Input Metrics": {"Bytes Read": 10, "Records Read": rec_in},
                "Shuffle Read Metrics": {"Total Records Read": shuffle_in},
                "Output Metrics": {"Records Written": rec_out},
                "Shuffle Write Metrics": {"Shuffle Records Written": shuffle_out}}}


def stage_done(stage, sub, done):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage, "Number of Tasks": 2,
                           "Submission Time": sub, "Completion Time": done}}


# two SQL executions (the first runs two stages), plus one job outside SQL
EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
     "description": "localCheckpoint at DedupQueries.scala:267", "time": 1000},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.sql.execution.id": "0"}},
    task_end(0, run=30, cpu_ms=20, deser=5, rec_in=100, shuffle_out=40),
    task_end(0, run=50, cpu_ms=25, deser=7, rec_in=120, shuffle_out=60),
    stage_done(0, 1010, 1090),
    task_end(1, run=12, cpu_ms=9, deser=3, shuffle_in=100, rec_out=7),
    stage_done(1, 1095, 1120),
    {"Event": SQL + "SparkListenerSQLExecutionEnd", "executionId": 0, "time": 1745},
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 1,
     "description": "parquet at BatchSink.scala:80", "time": 2000},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {"spark.sql.execution.id": "1"}},
    task_end(2, run=4, cpu_ms=2, deser=38, rec_out=3),
    stage_done(2, 2001, 2050),
    {"Event": SQL + "SparkListenerSQLExecutionEnd", "executionId": 1, "time": 2060},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    task_end(3, run=1, cpu_ms=1, deser=1),
    stage_done(3, 3000, 3002),
]


class EventLogStagesTest(unittest.TestCase):
    def setUp(self):
        self.lines = [json.dumps(e) + "\n" for e in EVENTS]

    def test_stages_sum_their_tasks_under_their_execution(self):
        executions, stages = eventlog_stages.read(self.lines)
        self.assertEqual(executions[0]["site"], "localCheckpoint at DedupQueries.scala:267")
        self.assertEqual(executions[0]["wall_ms"], 745)
        self.assertEqual(executions[0]["stages"], [0, 1])
        self.assertEqual(executions[1]["stages"], [2])
        self.assertEqual(executions["-"]["stages"], [3])
        s0 = stages[0]
        self.assertEqual((s0.tasks, s0.wall_ms, s0.run_ms, s0.cpu_ns // 1000000, s0.deser_ms),
                         (2, 80, 80, 45, 12))
        self.assertEqual((s0.rec_in, s0.rec_out), (220, 100))
        self.assertEqual((stages[1].rec_in, stages[1].rec_out), (100, 7))

    def test_report_lists_each_execution_then_its_stages(self):
        executions, stages = eventlog_stages.read(self.lines)
        out = eventlog_stages.report(executions, stages)
        self.assertEqual(out[0], "exec 0  745 ms  localCheckpoint at DedupQueries.scala:267")
        self.assertEqual(out[1].split(),
                         ["stage", "0", "tasks", "2", "wall", "80", "run", "80", "cpu", "45",
                          "deser", "12", "rec_in", "220", "rec_out", "100"])
        self.assertEqual(out[3], "exec 1  60 ms  parquet at BatchSink.scala:80")
        self.assertEqual(out[5], "exec -  -  (no SQL execution)")
        self.assertEqual(len(out), 7)

    def test_top_keeps_the_slowest_executions_in_id_order(self):
        executions, stages = eventlog_stages.read(self.lines)
        out = eventlog_stages.report(executions, stages, top=1)
        self.assertEqual([ln for ln in out if ln.startswith("exec")],
                         ["exec 0  745 ms  localCheckpoint at DedupQueries.scala:267"])

    def test_main_reads_a_file(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "local-1")
            with open(path, "w") as f:
                f.writelines(self.lines)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                eventlog_stages.main([path, "--top", "2"])
        self.assertEqual(buf.getvalue().splitlines()[0],
                         "exec 0  745 ms  localCheckpoint at DedupQueries.scala:267")

    def test_main_reads_a_rolling_log_directory_in_event_file_order(self):
        with tempfile.TemporaryDirectory() as d:
            log_dir = os.path.join(d, "eventlog_v2_local-1")
            os.makedirs(log_dir)
            # execution 1 starts in file 1 and ends in file 10, which a
            # name sort would read first (its wall time would be lost)
            for n, chunk in ((1, self.lines[:10]), (2, self.lines[10:13]),
                             (10, self.lines[13:])):
                with open(os.path.join(log_dir, f"events_{n}_local-1"), "w") as f:
                    f.writelines(chunk)
            with open(os.path.join(log_dir, "appstatus_local-1"), "w") as f:
                f.write("")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                eventlog_stages.main([log_dir])
        executions, stages = eventlog_stages.read(self.lines)
        self.assertEqual(buf.getvalue().splitlines(), eventlog_stages.report(executions, stages))


if __name__ == "__main__":
    unittest.main()

"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The span arithmetic and aggregation tests are instant. The workload tests run every
workload at a tiny size through run.py (a JVM each, a few minutes in
all; the first one builds)."""
import json
import subprocess
import sys
import unittest
from datetime import datetime, timezone
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import aggregate  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


class SpanArithmetic(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(aggregate.union_ms([(20, 40), (30, 50), (5, 12)], 10, 60), 32)
        self.assertEqual(aggregate.union_ms([], 0, 10), 0)
        self.assertEqual(aggregate.union_ms([(70, 90)], 0, 60), 0)

    def test_self_time_with_overlapping_children(self):
        spans = [
            [0, -1, "op", 0, 0.0, 100.0],
            [1, 0, "sources.commit.append", 0, 10.0, 60.0],
            [2, 1, "spark.job", 0, 20.0, 40.0],
            [3, 1, "spark.job", 0, 30.0, 50.0],      # overlaps job 2
            [4, 1, "planning.analysis", 0, 5.0, 12.0],  # starts before its parent
            [5, 0, "sources.maintenance.compact", 0, 70.0, 80.0],
        ]
        got = aggregate.self_times(spans)
        self.assertEqual(got["op"], 100 - 50 - 10)
        # 50 ms minus the union of [20, 50] and the clipped [10, 12]
        self.assertEqual(got["sources.commit"], 50 - 30 - 2)
        self.assertEqual(got["spark.job"], 20 + 20)
        self.assertEqual(got["planning"], 7)
        self.assertEqual(got["sources.maintenance"], 10)

    def test_p90_is_a_measured_sample(self):
        self.assertEqual(aggregate.p90(list(range(1, 11))), 9)
        self.assertEqual(aggregate.p90([5.0]), 5.0)


def synthetic_raw():
    """Two ops: a SQL read (op 0, one job, one analysis phase) and a
    stream batch (op 1, one micro-batch with one job). A third job and a
    phase fall outside any op and must be ignored."""
    t0 = 1_700_000_000_000.0
    stamp = datetime.fromtimestamp((t0 + 210) / 1e3, timezone.utc).isoformat().replace("+00:00", "Z")
    tasks = {"tasks": 4, "empty_tasks": 1, "failed_tasks": 0, "task_ms": 40.0, "task_cpu_ms": 20.0,
             "task_gc_ms": 0.0, "task_overhead_ms": 4.0, "input_bytes": 100, "input_records": 50,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "output_bytes": 0, "spill_bytes": 0}
    return {
        "tracing": True, "setup_s": [1.0, 2.0, 3.0], "space_amp": 1.5, "live_heap_mb": 80.0,
        "layer": {"sources.metadata.snapshots": 3.0},
        "ops": [
            {"id": 0, "kind": "point_sql", "start": t0, "end": t0 + 100, "rows": 5, "cpu_ms": 30.0,
             "gc_ms": 0.0, "disk_read_bytes": 0, "error": None,
             "info": {"plan_ms": 20.0, "exec_ms": 80.0, "files_read": 2.0, "files_total": 8.0,
                      "lifted": 1.0, "delete_files_applied": 3.0}},
            {"id": 1, "kind": "batch", "start": t0 + 200, "end": t0 + 400, "rows": 10, "cpu_ms": 50.0,
             "gc_ms": 2.0, "disk_read_bytes": 0, "error": None,
             "info": {"meta_bytes": 300.0, "data_files": 1.0, "data_bytes": 900.0, "files_removed": 0.0}},
        ],
        "spans": [[0, -1, "workload", -1, t0, t0 + 400],
                  [1, 0, "op", 0, t0, t0 + 100],
                  [2, 1, "sources.scan.plan", 0, t0, t0 + 20],
                  [3, 1, "sources.scan.exec", 0, t0 + 20, t0 + 100],
                  [4, 0, "op", 1, t0 + 200, t0 + 400]],
        "jobs": [{"op": 0, "parent": 3, "batch": -1, "start": t0 + 30, "end": t0 + 90, "stages": 2},
                 {"op": 1, "parent": -1, "batch": 7, "start": t0 + 250, "end": t0 + 350, "stages": 1},
                 {"op": -1, "parent": -1, "batch": -1, "start": t0 + 500, "end": t0 + 600, "stages": 1}],
        "tasks": {"0": tasks, "1": tasks, "-1": tasks},
        "phases": [[t0 + 5, t0 + 15, "analysis"], [t0 + 700, t0 + 710, "analysis"]],
        "executions": [t0 + 5, t0 + 700],
        "progress": [json.dumps({"batchId": 7, "timestamp": stamp, "numInputRows": 10,
                                 "durationMs": {"triggerExecution": 180, "addBatch": 120},
                                 "stateOperators": [{"numRowsTotal": 4, "memoryUsedBytes": 64,
                                                     "commitTimeMs": 30}]})],
    }


class Aggregation(unittest.TestCase):
    def test_per_layer_from_a_raw_record(self):
        got = aggregate.per_layer(synthetic_raw())
        self.assertEqual(got["spark.jobs"], 1.0)            # 2 jobs in 2 ops; the stray one is ignored
        self.assertEqual(got["spark.tasks"], 4.0)
        self.assertEqual(got["spark.empty_task_ratio"], 0.25)
        self.assertEqual(got["planning.analysis_ms"], 5.0)  # 10 ms over 2 ops
        self.assertEqual(got["planning.executions"], 0.5)
        self.assertEqual(got["sources.scan.skip_ratio"], 0.75)
        self.assertEqual(got["sources.scan.rows_read_per_row_returned"], 10.0)
        self.assertEqual(got["sources.scan.lifted_reads"], 1.0)
        self.assertEqual(got["sources.commit.jobs_per_commit"], 1.0)
        self.assertEqual(got["sources.commit.metadata_bytes_per_commit"], 300.0)
        self.assertEqual(got["streaming.trigger_ms"], 180.0)
        self.assertEqual(got["streaming.state_rows"], 4)
        self.assertEqual(got["spark.job_ms"], (60 + 100) / 2)
        self.assertEqual(got["self.streaming.batch_ms"], (180 - 100) / 2)
        self.assertEqual(got["self.sources.scan.exec_ms"], (80 - 60) / 2)
        # the analysis phase hangs under the plan span and takes its time
        self.assertEqual(got["self.sources.scan.plan_ms"], (20 - 10) / 2)
        self.assertEqual(got["self.planning_ms"], 10 / 2)
        self.assertEqual(got["sources.metadata.snapshots"], 3.0)

    def test_end_to_end_from_a_raw_record(self):
        got = aggregate.end_to_end(synthetic_raw())
        self.assertEqual(got["setup_s"], 2.0)
        self.assertEqual(got["op_p50_ms"], 150.0)
        self.assertAlmostEqual(got["ops_per_s"], 2 / 0.3)
        self.assertAlmostEqual(got["rows_per_s"], 15 / 0.3)


def run(workload, *extra):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--scale", "0.05", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=1200)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} {extra} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


class Workloads(unittest.TestCase):
    def assert_metrics(self, res, wanted):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(res["metrics"]), [m["name"] for m in wanted])
        for m in wanted:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], float, m["name"])

    def test_each_workload_emits_every_metric_at_tiny_size(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                plain = run(w, "--trace", "0")
                self.assert_metrics(plain, SPEC["end_to_end"])
                self.assertTrue(plain["correct"])
                self.assertEqual(plain["failed"], 0)
                self.assertGreater(plain["attempted"], 0)
                traced = run(w, "--trace", "1")
                self.assert_metrics(traced, SPEC["per_layer"])
                self.assertEqual(traced["failed"], 0)
                for m in ("spark.jobs", "spark.tasks", "self.op_ms"):
                    self.assertGreater(traced["metrics"][m]["value"], 0, m)

    def test_corrupted_output_is_caught(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = run(w, "--trace", "1", "--corrupt")
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)
                self.assertAlmostEqual(res["metrics"]["error_rate"]["value"],
                                       res["failed"] / res["attempted"])


if __name__ == "__main__":
    unittest.main()

"""The metrics run.py prints are exactly the ones BENCHMARK.json declares.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import run

BENCHMARK = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def fake_result(workload):
    """A minimal raw result of the workload's JVM, as Main.scala writes it."""
    files = [{"name": f"live-{i:05d}.json", "due_ms": 1_000 + 100 * i,
              "landed_ms": 1_001 + 100 * i, "rows": 200} for i in range(3)]
    progress = [{"batch": 5, "start_ms": 1_050, "trigger_ms": 400, "add_batch_ms": 200,
                 "latest_offset_ms": 20, "query_planning_ms": 30, "rows": 600}]
    samples = ({"batch_e2e_s": [5.0], "page_read_s": [1.0], "batch.readdata_s": [0.6],
                "http.status_s": [0.01], "batch.queue_wait_s": [0.0], "batch.run_s": [4.0]}
               if workload == "service_mix" else
               {"query_s": [0.3, 0.5], "query_s.a": [0.3], "query_s.b": [0.5],
                "merge_s": [5.0], "read_committed_s": [0.4]})
    return {
        "samples": samples,
        "counts": {"attempted.x": 2, "retries.read": 1},
        "scalars": {"heap_used_mb": 80.0, "session_ready_epoch_s": 2.0, "setup.generate_s": 1.0,
                    "setup.warmup_s": 3.0, "timed.start_s": 0.0, "timed.end_s": 15.0,
                    "service_mix.open_loop_start_epoch_s": 1.0,
                    "service_mix.open_loop_end_epoch_s": 16.0},
        "blobs": {"setup.prepare_s": [1.0, 1.0, 1.0], "stream.files": files,
                  "stream.progress": progress,
                  "stream.file_batch": {f["name"]: 5 for f in files}},
    }


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(BENCHMARK) as fh:
            self.bench = json.load(fh)

    def test_workloads_are_the_declared_ones(self):
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]), sorted(run.WORKLOADS))

    def test_untraced_metrics_match_end_to_end(self):
        want = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        for w in run.WORKLOADS:
            got, _ = run.end_to_end(w, fake_result(w), 10.0)
            self.assertEqual({k: u for k, (_, u) in got.items()}, want, w)

    def test_traced_metrics_match_per_layer(self):
        want = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        for w in run.WORKLOADS:
            got = run.per_layer(w, fake_result(w), [], [])
            self.assertEqual({k: u for k, (_, u) in got.items()}, want, w)


if __name__ == "__main__":
    unittest.main()

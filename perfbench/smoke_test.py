#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke_test.py        (from the repository root)

For every workload, an untraced and a traced run must print every metric
BENCHMARK.json declares and pass the output check. Every end-to-end metric
and the per-layer metrics in MUST_MOVE must read above 0. A run whose check
is fed a corrupted route count must fail it.
"""

import json
import os
import subprocess
import sys
import unittest

ROOT = os.getcwd()


def run(workload, trace, *extra):
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    assert proc.returncode == 0, f"{workload} exited {proc.returncode}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


# Per-layer metrics that must read above 0 on a workload: each comes from
# a different probe, so a probe that stops recording shows here.
MUST_MOVE = {
    "pipe_incremental": [
        "app.route_write_s", "app.rollup_write_s", "app.route_counts_s", "app.unphased_s",
        "app.route_write.jobs", "app.rollup_write.jobs", "app.route_write.tasks",
        "agg.shuffle_bytes", "agg.reducer_skew", "app.input_passes", "sink.files_written",
        "sink.bytes_written", "sink.list_s", "sink.readback_files", "checkpoint.read_s",
        "checkpoint.write_s", "checkpoint.manifest_bytes", "trace_overhead", "host.burn_s",
        "host.disk_burn_s", "jvm.gcs", "jvm.peak_heap_after_gc_mb", "job.samples"],
    "catalog": [
        "catalog.jobs", "catalog.stages", "catalog.tasks", "catalog.cpu_s",
        "catalog.shuffle_write_bytes", "catalog.q_s", "catalog.q_steady_s", "catalog.tx_s",
        "catalog.pipe_s", "catalog.exchanges", "trace_overhead", "host.burn_s",
        "host.disk_burn_s", "jvm.gcs", "jvm.peak_heap_after_gc_mb", "job.samples"],
}


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        cls.workloads = [w["name"] for w in spec["workloads"]]
        cls.declared = {0: [m["name"] for m in spec["end_to_end"]],
                        1: [m["name"] for m in spec["per_layer"]]}

    def test_every_metric_printed_and_outputs_correct(self):
        for w in self.workloads:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    result = run(w, trace)
                    self.assertEqual(sorted(result["metrics"]), sorted(self.declared[trace]))
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    must = self.declared[0] if trace == 0 else MUST_MOVE[w]
                    for m in must:
                        self.assertGreater(result["metrics"][m]["value"], 0, m)

    def test_corrupted_route_count_fails_the_check(self):
        result = run("pipe_incremental", 0, "--corrupt-route-count")
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)


if __name__ == "__main__":
    unittest.main()

#!/usr/bin/env python3
"""The benchmark's metric lines survive sbt's stdout framing.

    python3 perfbench/test_run.py

When the benchmark main runs under `sbt run` with a forked JVM, sbt prints
every stdout line of the child with an `[info] ` prefix. These tests feed
`run.parse_metric_lines` such a framed tail and check that every metric
BENCHMARK.json names comes back with its value and unit.
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"] + spec["per_layer"]


def jvm_stdout(metrics, prefix=""):
    """What the benchmark main prints, with one value per metric."""
    lines = [prefix + "running graftbench.Main --workload cdc_backfill",
             prefix + "12:00:01.123 WARN NativeCodeLoader: Unable to load native-hadoop library",
             prefix + run.MARKER]
    for i, m in enumerate(metrics):
        lines.append(f"{prefix}{m['name']} {1.5 + i * 1234.0625} {m['unit']}")
        if i == 3:
            lines.append(prefix + "[graft] a stray engine line in between")
    lines += [prefix + "attempted 20010 count", prefix + "failed 0 count"]
    return "\n".join(lines) + "\n"


class ParseMetricLines(unittest.TestCase):
    def check(self, text, metrics):
        got = run.parse_metric_lines(text)
        for i, m in enumerate(metrics):
            self.assertIn(m["name"], got)
            self.assertEqual(got[m["name"]]["value"], 1.5 + i * 1234.0625)
            self.assertEqual(got[m["name"]]["unit"], m["unit"])
        self.assertEqual(got["failed"]["value"], 0.0)

    def test_sbt_framed_tail(self):
        metrics = bench_metrics()
        out = jvm_stdout(metrics, prefix="[info] ") + "[success] Total time: 41 s\n"
        # a log collector may keep only a tail of stdout; this one starts
        # at the marker
        tail = out[out.index(run.MARKER) - len("[info] "):]
        self.check(tail, metrics)

    def test_raw_jvm_output(self):
        metrics = bench_metrics()
        self.check(jvm_stdout(metrics), metrics)

    def test_lines_before_the_marker_are_ignored(self):
        text = "[info] setup_s 99 s\n" + jvm_stdout([{"name": "setup_s", "unit": "s"}], "[info] ")
        self.assertEqual(run.parse_metric_lines(text)["setup_s"]["value"], 1.5)

    def test_windows_line_ends(self):
        metrics = bench_metrics()
        self.check(jvm_stdout(metrics, "[info] ").replace("\n", "\r\n"), metrics)


if __name__ == "__main__":
    unittest.main()

"""The benchmark's own tests: a smoke size of each workload prints every
metric BENCHMARK.json names, with its unit, and passes its output oracle;
a truncated GRIB file in the archive is counted as a failure and never
timed. Each case starts one JVM at smoke size.

    python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--size", "smoke", *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().split("\n")
    return lines, json.loads(lines[-1])


# figures the report names per workload, by the lifecycle's own names
NAMED = {
    "era5_backfill": (["backfill_cells_per_s", "zarr_backfill_cells_per_s"],
                      ["manager.transform_plan_s", "manifest.list_s", "manifest.files",
                       "grib.scan_s", "grib.decode_mb_per_s", "grib.cells_per_s", "grib.tasks",
                       "normalize.extra_s", "qc.pre_parse_s", "qc.post_parse_s",
                       "qc.post_parse.jobs", "gridstore.publish_s", "gridstore.publish.write_amp",
                       "zarrstore.publish_s", "stac.publish_metadata_s",
                       "stac.publish_metadata.bytes_read"]),
    "chirps_nightly": (["append_p50_s", "insert_p50_s", "update_tail_s", "zarr_append_p50_s",
                        "zarr_insert_p50_s", "zarr_update_tail_s", "read_p50_s", "read_tail_s",
                        "zarr_read_p50_s", "zarr_read_tail_s"],
                       ["manager.check_new_data_s", "manager.transform_plan_s", "nc.scan_s",
                        "nc.decode_mb_per_s", "nc.tasks", "qc.post_parse_s",
                        "gridstore.publish_s", "gridstore.publish.write_amp",
                        "zarrstore.publish.write_amp", "manifest.archive_s",
                        "stac.publish_metadata_s", "gridstore.read_s",
                        "gridstore.read.bytes_read_per_row", "zarrstore.read_s",
                        "zarrstore.read.bytes_read_per_row", "gridstore.reopen_s",
                        "zarrstore.reopen_s"]),
}
COMMON = ["setup_s", "store_bytes_per_cell", "zarr_store_bytes_per_cell", "peak_rss_mb",
          "failed_ratio"]


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        lines, res = run(workload, trace)
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], lines[-30:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in want})
        for m in want:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float))
        # the report prints the lifecycle's figures by name with a unit
        report = {l.split()[1]: l.split()[2:] for l in lines if l.startswith("metric ")}
        e2e_names, layer_names = NAMED[workload]
        for name in COMMON + e2e_names + (layer_names if trace else []):
            self.assertIn(name, report)
            self.assertEqual(len(report[name]), 2, report[name])
        self.assertTrue(any(l.startswith("env ") and "storage_memory_mb=" in l for l in lines))

    def test_era5_backfill(self):
        self.check("era5_backfill", 0)

    def test_chirps_nightly(self):
        self.check("chirps_nightly", 0)

    def test_traced_era5_backfill(self):
        self.check("era5_backfill", 1)

    def test_traced_chirps_nightly(self):
        self.check("chirps_nightly", 1)


class TruncatedGribTest(unittest.TestCase):
    def test_refusal_is_counted_not_timed(self):
        # odd steps back-fill from a copy of the archive with one file cut
        # mid-message; the seconds budget leaves room for at least two steps
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "era5_backfill",
               "--seed", "7", "--seconds", "12", "--trace", "0", "--size", "smoke",
               "--fault", "truncate-grib"]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().split("\n")
        res = json.loads(lines[-1])
        ops = [l.split() for l in lines if re.match(r"op\s+\d+ ", l)]
        failed_ops = [o for o in ops if "FAILED" in o]
        self.assertGreater(res["failed"], 0)
        self.assertEqual(res["failed"], len(failed_ops))
        self.assertFalse(res["correct"])
        ratio = next(float(l.split()[2]) for l in lines if l.startswith("metric failed_ratio"))
        self.assertAlmostEqual(ratio, res["failed"] / res["attempted"])
        # timed = attempted - failed: a refusal never becomes a timing
        timed = next(int(re.search(r"timed=(\d+)", l).group(1)) for l in lines
                     if l.startswith("env loop_s="))
        self.assertEqual(timed, res["attempted"] - res["failed"])


if __name__ == "__main__":
    unittest.main()

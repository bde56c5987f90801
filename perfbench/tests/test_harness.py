"""Self-test of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests -v

The last two tests run the benchmark command end to end with a planted wrong
reference value (about a minute each, after the first build) and expect it
to fail.
"""
import json
import math
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
import run  # noqa: E402


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - math.ceil(p * n / 100)


class TailPercentile(unittest.TestCase):
    def test_fixed_tail_keeps_ten_samples_beyond(self):
        for kind, n in run.BASELINE_SAMPLES.items():
            self.assertGreaterEqual(beyond(n, run.TAIL_PCT), 10, kind)

    def test_fixed_tail_is_the_highest_such_rung(self):
        n = min(run.BASELINE_SAMPLES.values())
        higher = [p for p in run.TAIL_LADDER if p > run.TAIL_PCT]
        self.assertTrue(all(beyond(n, p) < 10 for p in higher))
        self.assertEqual(run.tail_percentile(n), run.TAIL_PCT)

    def test_selection_for_any_sample_count(self):
        for n in range(1, 500):
            p = run.tail_percentile(n)
            if p is None:
                self.assertLess(beyond(n, min(run.TAIL_LADDER)), 10)
            else:
                self.assertGreaterEqual(beyond(n, p), 10)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 75), 75)
        self.assertEqual(run.percentile(xs, 50), 50)
        self.assertEqual(run.percentile([3.0], 75), 3.0)


class Compare(unittest.TestCase):
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3], "s": ["a", "b", "c"]})

    def test_same_rows_in_any_order(self):
        got = self.want.iloc[::-1].copy()
        got["v"] = got["v"] * (1 + 1e-12)
        self.assertIsNone(run.compare(got, self.want))

    def test_changed_value_missing_row_and_column(self):
        self.assertIsNotNone(run.compare(run.plant_wrong(self.want), self.want))
        self.assertIsNotNone(run.compare(self.want.iloc[:2], self.want))
        self.assertIsNotNone(run.compare(self.want.drop(columns="s"), self.want))


class Upserts(unittest.TestCase):
    def test_expected_state_is_latest_version_per_key(self):
        with tempfile.TemporaryDirectory() as d:
            orders = pd.DataFrame({
                "o_orderkey": np.arange(100, dtype=np.int64),
                "o_custkey": np.zeros(100, np.int64), "o_orderstatus": "F",
                "o_totalprice": 1.0,
                "o_orderdate": pd.Timestamp("1996-01-01").as_unit("us"),
                "o_orderpriority": "5-LOW"})
            pq.write_table(pa.Table.from_pandas(orders, preserve_index=False), f"{d}/o.parquet")
            got = gen.upserts(f"{d}/o.parquet", f"{d}/in", seed=3, batches=4,
                              rows=20, update_share=0.8)
            parts = [orders.assign(ver=np.int64(0))] + [
                pd.read_parquet(f"{d}/in/batch_{b:04d}.parquet") for b in range(4)]
            for p in parts[1:]:
                self.assertEqual(len(p), 20)
                self.assertTrue(p["o_orderkey"].is_unique)
            allrows = pd.concat(parts, ignore_index=True)
            latest = allrows.loc[allrows.groupby("o_orderkey")["ver"].idxmax()]
            self.assertIsNone(run.compare(got, latest))
            self.assertGreater(len(got), 100)  # some rows were inserts


class PlantedWrongResult(unittest.TestCase):
    def command(self, workload):
        p = subprocess.run(
            [sys.executable, str(HERE.parent / "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", "0", "--plant-wrong-result"],
            capture_output=True, text=True, cwd=HERE.parent.parent, timeout=900)
        return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])

    def test_tpch_oracle_mismatch_fails_the_command(self):
        rc, r = self.command("tpch_sf0.01")
        self.assertNotEqual(rc, 0)
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)

    def test_lake_expected_state_mismatch_fails_the_command(self):
        rc, r = self.command("lake_ingest")
        self.assertNotEqual(rc, 0)
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)


if __name__ == "__main__":
    unittest.main()

import glob
import json
import os
import subprocess
import sys
import unittest

from tests.util import BENCH

ROOT = os.path.dirname(BENCH)


class BrokenOpTest(unittest.TestCase):
    """End to end: an op that throws is counted, named and fails the run."""

    def test_broken_op_exits_non_zero(self):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", "search_serving", "--seed", "5",
                            "--seconds", "2", "--trace", "0", "--break-op", "7"],
                           cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertNotEqual(p.returncode, 0)
        line = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        with open(os.path.join(ROOT, ".perfbench", "artifacts",
                               "search_serving-s5-t0.json")) as f:
            art = json.load(f)
        self.assertAlmostEqual(art["error_rate"], 1 / line["attempted"])
        self.assertIn("java.lang.IllegalStateException", art["failures"][0]["error"])
        timed = [o for o in art["ops"] if o["phase"] == "timed"]
        broken = [o for o in timed if o["index"] == 7]
        self.assertTrue(broken and broken[0]["error"])
        # the broken op is left out of the latency samples
        import statistics
        ok = [o["ms"] for o in timed if not o["error"]]
        self.assertEqual(art["end_to_end"]["op_p50_ms"]["value"], statistics.median(ok))


if __name__ == "__main__":
    unittest.main()

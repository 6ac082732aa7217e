"""End to end: a wrong recorded fingerprint must fail a real run.

This starts the real harness (about a minute), so it runs only when
PERFBENCH_E2E=1:

    PERFBENCH_E2E=1 python3 -m unittest discover -s perfbench/tests

A tampered stored table is covered without Spark by
test_metrics.MonthlyCheckTest.
"""

import contextlib
import io
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path
from unittest import mock

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import run  # noqa: E402


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class TamperTest(unittest.TestCase):
    def test_tampered_fingerprint_fails_the_run(self):
        fps = json.loads(run.FINGERPRINTS.read_text())
        victim = sorted(fps)[0]
        fps[victim] = dict(fps[victim], hash="0")
        with tempfile.TemporaryDirectory() as d:
            tampered = Path(d) / "fingerprints.json"
            tampered.write_text(json.dumps(fps))
            out = io.StringIO()
            with mock.patch.object(run, "FINGERPRINTS", tampered), \
                    contextlib.redirect_stdout(out):
                code = run.main(["--workload", "query_sweep", "--seed", "4", "--seconds", "1"])
        result = json.loads(out.getvalue().strip().splitlines()[-1])
        self.assertEqual(code, 1)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)


if __name__ == "__main__":
    unittest.main()

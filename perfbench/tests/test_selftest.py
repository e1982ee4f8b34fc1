"""Self-tests of the benchmark's output check.

A deliberately wrong expected value must fail the run: the runner exits
nonzero and its result line reports `correct: false`.

Run from the repository root (each case starts a JVM, ~30-60 s):
  python3 -m unittest discover -s perfbench/tests -v
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent


def run(workload, data, seconds):
    return subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", "0", "--data", str(data)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=400)


class WrongExpectationFails(unittest.TestCase):

    def doctored(self, name, edit):
        data = ROOT / ".bench_work" / f"selftest-{name}"
        shutil.rmtree(data, ignore_errors=True)
        shutil.copytree(HERE / "data", data)
        path = data / name
        doc = json.loads(path.read_text())
        edit(doc)
        path.write_text(json.dumps(doc))
        self.addCleanup(shutil.rmtree, data, True)
        return data

    def assert_fails(self, r):
        self.assertNotEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-2000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual(set(result["metrics"]), {m["name"] for m in bench["end_to_end"]})

    def test_wrong_request_row_count_fails_serve_read(self):
        def edit(doc):
            for r in doc["requests"]:
                if "rows" in r:
                    r["rows"] += 1
        self.assert_fails(run("serve_read", self.doctored("requests.json", edit), 2.5))

    def test_wrong_key_checksum_fails_ops_batch(self):
        def edit(doc):
            for k in doc["keys"].values():
                if k.get("checksum") is not None:
                    k["checksum"] += 1
                elif "rows" in k:
                    k["rows"] += 1
        self.assert_fails(run("ops_batch", self.doctored("ops.json", edit), 2))


if __name__ == "__main__":
    unittest.main()

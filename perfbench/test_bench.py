"""The benchmark's own tests.

    python3 perfbench/test_bench.py

Run from the root of a checkout. The corpus test generates every shape
twice per seed and checks byte-identical files and the declared row
counts. The gate test runs one pipeline_wide build through run.py,
then checks that the output gate passes that index and rejects copies
of it with one donor doc removed or one donor field changed.
"""

import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import corpus  # noqa: E402
import run  # noqa: E402


class CorpusTest(unittest.TestCase):
    def test_one_seed_one_corpus(self):
        corpus.selftest(os.path.join(run.BUILD, "tmp"))


class GateTest(unittest.TestCase):
    def test_gate_rejects_tampered_index(self):
        subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", "pipeline_wide", "--seed", "1",
                        "--seconds", "1", "--trace", "0"],
                       check=True, stdout=subprocess.DEVNULL)
        classes, _ = run.build()
        work = os.path.join(run.BUILD, "run")
        scratch = os.path.join(run.BUILD, "gate-test")
        subprocess.run(["rm", "-rf", scratch], check=True)
        code = run.run_jvm(classes, "perfbench.GateTest", [
            os.path.join(work, "work-0", "pipeline", "indexes"),
            os.path.join(work, "corpus.manifest.json"), scratch],
            os.path.join(work, "gate-test.log"), deadline=None)
        with open(os.path.join(work, "gate-test.log")) as f:
            log = f.read()
        self.assertEqual(code, 0, log[-3000:])
        self.assertIn("gate rejects a removed donor doc", log)
        self.assertIn("gate rejects a changed field", log)


if __name__ == "__main__":
    unittest.main()

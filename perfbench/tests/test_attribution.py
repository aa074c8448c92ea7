import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402


class JobGroupAttribution(unittest.TestCase):
    """Runs the harness's Spark-side self-test: jobs land in the group of
    the innermost open span, child threads included."""

    def test_ledger_attribution(self):
        os.makedirs(build.WORK, exist_ok=True)
        classes = build.build()
        work = os.path.join(build.WORK, "test-attribution")
        os.makedirs(work, exist_ok=True)
        r = subprocess.run(["java", "-Xmx1g", f"-Djava.io.tmpdir={work}"] + build.JVM_OPTS +
                           ["-cp", build.classpath([classes]), "perfbench.SelfTest", work],
                           capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-4000:])
        self.assertEqual(r.stdout.strip().splitlines()[-1], "ok")


if __name__ == "__main__":
    unittest.main()

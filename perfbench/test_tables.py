"""The table generator's own test: one seed always writes the same bytes,
and another seed writes other rows.

    python3 -m unittest perfbench/test_tables.py
"""
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables.py")
TABLES = ("lineitem", "documents", "embeddings")


def digests(seed, out):
    subprocess.run([sys.executable, SCRIPT, "--seed", str(seed), "--out", out], check=True)
    return {t: hashlib.sha256(open(os.path.join(out, f"{t}.parquet"), "rb").read()).hexdigest()
            for t in TABLES}


class TablesTest(unittest.TestCase):
    def test_seed_fixes_the_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a = digests(7, os.path.join(d, "a"))
            b = digests(7, os.path.join(d, "b"))
            c = digests(8, os.path.join(d, "c"))
        self.assertEqual(a, b)
        for t in TABLES:
            self.assertNotEqual(a[t], c[t], t)


if __name__ == "__main__":
    unittest.main()

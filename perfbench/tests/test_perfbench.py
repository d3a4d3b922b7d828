"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def scratch():
    os.makedirs(build.build_dir(), exist_ok=True)
    return tempfile.TemporaryDirectory(dir=build.build_dir())


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_csv_bytes(self):
        with scratch() as d:
            a, b, c = (os.path.join(d, f) for f in ("a.csv", "b.csv", "c.csv"))
            ta = gen.covid_csv(7, a)
            tb = gen.covid_csv(7, b)
            gen.covid_csv(8, c)
            self.assertTrue(filecmp.cmp(a, b, shallow=False))
            self.assertFalse(filecmp.cmp(a, c, shallow=False))
            self.assertEqual(ta, tb)

    def test_csv_has_edge_rows_and_consistent_tallies(self):
        with scratch() as d:
            path = os.path.join(d, "covid.csv")
            t = gen.covid_csv(3, path)
            with open(path) as f:
                body = f.read()
            self.assertEqual(len(body.splitlines()), t["csv_rows"] + 1)
            self.assertIn("o'brien", body)
            self.assertIn("  ", body)          # padded names
            self.assertIn(",,", body)          # missing counts
            self.assertLess(t["total_records"], t["csv_rows"])  # malformed rows drop
            self.assertEqual(sum(t["cases_per_county"].values()) > 0, True)
            self.assertEqual(len(t["overview_keys"]), min(2000, t["total_records"]))

    def test_same_seed_same_tables(self):
        with scratch() as d:
            for sub, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen.tables(seed, os.path.join(d, sub))
            for t in ("lineitem", "documents", "embeddings", "events"):
                f = f"{t}.parquet"
                self.assertTrue(filecmp.cmp(os.path.join(d, "a", f), os.path.join(d, "b", f),
                                            shallow=False))
                self.assertFalse(filecmp.cmp(os.path.join(d, "a", f), os.path.join(d, "c", f),
                                             shallow=False))


class AttributionTest(unittest.TestCase):
    """Per-call sums equal the run-wide listener totals, streams included;
    the memo-miss guard fires on a builder's memo hit."""

    def test_selftest(self):
        cp = build.build()
        with scratch() as d:
            data = os.path.join(d, "data")
            gen.tables(1, data)
            cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in run.JDK_OPENS] +
                   ["-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={d}", f"-Dspark.local.dir={d}",
                    "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.SelfTest", d, data])
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            self.assertIn("SELFTEST OK", r.stdout, r.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()

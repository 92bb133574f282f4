"""Generator determinism: the same seed writes the same bytes.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402


def digest(root):
    """Hash of every file under root, by path relative to root."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def planned(make, seed):
    """(plan as JSON with the directory made relative, bytes digest)."""
    with tempfile.TemporaryDirectory() as d:
        plan = make(d, seed)
        return json.dumps(plan, sort_keys=True).replace(d, "<in>"), digest(d)


class Determinism(unittest.TestCase):
    def check_seeded(self, make):
        a, b, c = planned(make, 7), planned(make, 7), planned(make, 8)
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])
        self.assertNotEqual(a[1], c[1])

    def test_lake_write(self):
        self.check_seeded(lambda d, s: gen.plan_lake_write(d, s, decks=1))

    def test_read(self):
        self.check_seeded(lambda d, s: gen.plan_read(d, s, decks=2))


class LandmarkModel(unittest.TestCase):
    def test_spec_parse_matches_generated_rows(self):
        """The checks' ingest model, which parses the CSV by the ingest
        spec, reads back exactly the rows the generator meant."""
        rng = gen.rng_for(3, "test")
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "l.csv")
            rows = gen.write_landmark_csv(path, rng, 1, 50_000)
            self.assertGreater(len(rows), 5)
            self.assertEqual(check.landmark_rows(path), rows)


if __name__ == "__main__":
    unittest.main()

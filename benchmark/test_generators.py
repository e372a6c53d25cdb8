"""Self-check of the benchmark's input generators.

    python3 -m unittest discover -s benchmark -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import imdbgen
import opsgen


def tree_digest(root):
    h = hashlib.sha256()
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


class ImdbGenTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            da = imdbgen.generate(a, 5, 3000)
            db = imdbgen.generate(b, 5, 3000)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertEqual(da["digest"], db["digest"])
            with tempfile.TemporaryDirectory() as c:
                self.assertNotEqual(imdbgen.generate(c, 6, 3000)["digest"], da["digest"])

    def test_every_fixture_edge_case(self):
        for seed in (0, 1, 2):
            with tempfile.TemporaryDirectory() as d:
                cases = imdbgen.generate(d, seed, 500)["edge_cases"]
                missing = [k for k, v in cases.items() if not v]
                self.assertEqual(missing, [], "seed %d" % seed)

    def test_layout_and_proportions(self):
        with tempfile.TemporaryDirectory() as d:
            info = imdbgen.generate(d, 3, 4000)
            for t in imdbgen.TABLES:
                with open(os.path.join(d, t + ".tsv")) as f:
                    header = f.readline().rstrip("\n").split("\t")
                    self.assertEqual(header, imdbgen.HEADERS[t].split())
                    for line in f:
                        self.assertEqual(len(line.rstrip("\n").split("\t")), len(header), t)
                        self.assertNotIn('"', line.replace('["Self"]', ""), t)
            rows = info["rows"]
            self.assertEqual(rows["title_basics"], 4000)
            self.assertGreater(rows["title_principals"] / 4000, 6)
            self.assertGreater(rows["title_akas"] / 4000, 3.5)
            self.assertGreater(rows["title_episode"] / 4000, 0.6)

    def test_predictions_follow_the_rows(self):
        with tempfile.TemporaryDirectory() as d:
            info = imdbgen.generate(d, 4, 2000)
            with open(os.path.join(d, "title_basics.tsv")) as f:
                next(f)
                basics = [l.rstrip("\n").split("\t") for l in f]
            movie_rows = sum(len(b[8].split(",")) for b in basics
                             if b[1] == "movie" and b[5] != "\\N" and b[8] != "\\N")
            exp = info["expected_rows"]
            self.assertEqual(exp["analytics_movie_facts_v2"], movie_rows)
            self.assertEqual(exp["analytics_episode_facts_v2"], info["rows"]["title_episode"])
            self.assertEqual(exp["analytics_quality"], 3)
            self.assertGreater(exp["marts_top_movies_by_genre"], 0)
            self.assertLess(exp["marts_episode_season_trends"], exp["series_season_summary_v2"] + 1)


class OpsGenTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertEqual(opsgen.generate(a, 42, 0.002)["digest"],
                             opsgen.generate(b, 42, 0.002)["digest"])
            self.assertEqual(tree_digest(a), tree_digest(b))

    def test_shapes(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            info = opsgen.generate(d, 42, 0.002)
            self.assertEqual(info["rows"], {"events": 2000, "documents": 100})
            docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pydict()
            self.assertEqual(sum(t.endswith(" dup") for t in docs["text"]), 5)
            self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])
            ev = pq.read_table(os.path.join(d, "events.parquet"))
            self.assertEqual(str(ev.schema.field("ts").type), "timestamp[us]")


if __name__ == "__main__":
    unittest.main()

"""The benchmark's own tests: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import filecmp
import glob
import json
import os
import re
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def write_all(out, seed):
    gen.write_corpus(out, seed)
    gen.write_stream(out, seed, "envelope", 3, 20)
    gen.write_changelog(out, seed, 3, 200)
    gen.write_tables(out, seed)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.base = run.new_run_dir("test", 0, 0)

    def tearDown(self):
        shutil.rmtree(self.base, ignore_errors=True)

    def test_same_seed_gives_identical_bytes(self):
        a, b, c = (os.path.join(self.base, x) for x in "abc")
        for d, seed in ((a, 5), (b, 5), (c, 6)):
            os.makedirs(d)
            write_all(d, seed)
        self.assertTrue(same_tree(a, b))
        for f in ("corpus.json", "envelope_truth.json", "changelog_truth.json",
                  os.path.join("tables", "documents.parquet")):
            self.assertFalse(filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False), f)

    def test_corpus_fills_the_vocabulary(self):
        gen.write_corpus(self.base, gen.CORPUS_SEED)
        recs = json.load(open(os.path.join(self.base, "corpus.json"), encoding="utf-8"))
        self.assertEqual(len(recs), 1135)
        df = {}
        for r in recs:
            t = re.sub(r"https?://\S+|www\.\S+|[^A-Za-z0-9\s]", "", r["text"].lower())
            for w in set(t.split()):
                df[w] = df.get(w, 0) + 1
        self.assertGreaterEqual(sum(v >= 3 for v in df.values()), 2000)
        self.assertEqual(len({r["subreddit"] for r in recs}), 10)

    def test_changelog_truth_by_construction(self):
        gen.write_changelog(self.base, 3, 4, 500)
        truth = json.load(open(os.path.join(self.base, "changelog_truth.json")))
        self.assertEqual(truth["records"], 2000)
        self.assertEqual(len(truth["dedup_survivors"]), truth["originals"])
        recs = [json.loads(l) for f in sorted(glob.glob(os.path.join(self.base, "changelog", "*")))
                for l in open(f, encoding="utf-8")]
        self.assertEqual(len(recs), 2000)
        self.assertLess(len({r["id"] for r in recs}), 2000)          # re-deliveries
        self.assertLess(len({r["text"] for r in recs}), len({r["id"] for r in recs}))  # reposts
        self.assertTrue(any(r["op"] == "D" for r in recs))
        seqs = [r["seq"] for r in recs]
        self.assertNotEqual(seqs, sorted(seqs))                       # out of order


class SpecTest(unittest.TestCase):
    def test_metric_names_and_units_parse(self):
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        names = [w["name"] for w in spec["workloads"]]
        for w in spec["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(NAME.match(w["name"]) and len(w["why"]) <= 200)
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in spec["end_to_end"] + spec["per_layer"]:
            names.append(m["name"])
            self.assertTrue(NAME.match(m["name"]), m["name"])
            self.assertTrue(UNIT.match(m["unit"]), m["unit"])
            self.assertIn(m["better"], ("higher", "lower"))
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in spec["end_to_end"]))

    def test_harness_emits_only_declared_metrics(self):
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        declared = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
        src = "".join(open(p).read() for p in glob.glob(os.path.join(HERE, "scala", "*.scala")))
        literal = set(re.findall(r'c\.put\("([^"$]+)"', src))
        self.assertTrue(literal)
        self.assertEqual(literal - declared, set())


class IsolationTest(unittest.TestCase):
    def test_runs_never_share_a_directory(self):
        a = run.new_run_dir("infer", 1, 0)
        b = run.new_run_dir("infer", 1, 0)
        try:
            self.assertNotEqual(a, b)
            for d in (a, b):
                self.assertEqual(os.listdir(d), [])
                self.assertTrue(d.startswith(run.RUNS + os.sep))
        finally:
            shutil.rmtree(a)
            shutil.rmtree(b)

    def test_harness_paths_live_under_the_run_dir(self):
        # Every path the harness opens is built from its run directory
        # (`c.dir`, `c.inputs`) or from a path derived from them.
        for p in glob.glob(os.path.join(HERE, "scala", "*.scala")):
            for lit in re.findall(r's"(/[^"]*)"', open(p).read()):
                self.fail("absolute path %r in %s" % (lit, p))


if __name__ == "__main__":
    unittest.main()

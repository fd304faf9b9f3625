"""Tests of the benchmark's own parts: the seeded input generators and the
correctness checks. No server is started.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import os
import statistics
import sys
import tempfile
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".perfbench")


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=SCRATCH)
        self.addCleanup(self.tmp.cleanup)

    def dml_digest(self, seed, name):
        spec = gen.load_dml(seed, os.path.join(self.tmp.name, name))
        files = [spec[k] for k in ("csv", "json", "delta", "probe")]
        return digest(files), {k: spec[k] for k in ("update_cat", "delete_mod", "copy_cat")}

    def test_ci_suite_is_deterministic_per_seed(self):
        self.assertEqual(gen.ci_suite(5), gen.ci_suite(5))
        self.assertNotEqual(gen.ci_suite(5), gen.ci_suite(6))

    def test_load_dml_is_deterministic_per_seed(self):
        a, b, c = self.dml_digest(5, "a"), self.dml_digest(5, "b"), self.dml_digest(6, "c")
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])

    def test_load_dml_probe_does_not_depend_on_seed(self):
        p1 = gen.load_dml(5, os.path.join(self.tmp.name, "p1"))["probe"]
        p2 = gen.load_dml(6, os.path.join(self.tmp.name, "p2"))["probe"]
        self.assertEqual(digest([p1]), digest([p2]))

    def test_analytic_is_deterministic_per_seed(self):
        def run(seed, name):
            s = gen.analytic(seed, os.path.join(self.tmp.name, name))
            tables = sorted(os.path.join(s["dir"], f) for f in os.listdir(s["dir"]))
            rows = checks.analytic_oracle(s["dir"], list(checks.ORACLE_SQL))
            return s["vectors"], s["bm25_queries"], s["docs"], rows, len(tables)
        a, b, c = run(5, "a"), run(5, "b"), run(6, "c")
        np.testing.assert_array_equal(a[0], b[0])
        self.assertEqual(a[1:], b[1:])
        self.assertFalse(np.array_equal(a[0], c[0]))
        self.assertNotEqual(a[3], c[3])


class CheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        rng = np.random.default_rng(3)
        v = rng.normal(size=(60, 8)).astype(np.float32)
        cls.vecs = v / np.linalg.norm(v, axis=1, keepdims=True)
        cls.ids, cls.sims, cls.all_sims = checks.knn_exact(cls.vecs)

    def exact_rows(self):
        return [[q, int(self.ids[q, k]), k + 1, round(float(self.sims[q, k]), 6)]
                for q in range(len(self.ids)) for k in range(5)]

    # aggregates ---------------------------------------------------------

    def test_wrong_aggregate_is_rejected(self):
        m = gen.ci_suite(9)["modules"][0]
        want = checks.ci_expected(m)["agg"]
        self.assertIsNone(checks.rows_equal([list(want[0])], want, "agg"))
        bad = [list(want[0])]
        bad[0][1] += 0.01
        self.assertIsNotNone(checks.rows_equal(bad, want, "agg"))

    def test_wrong_entry_aggregate_is_rejected(self):
        want = [["NATION_3", 1234.5], ["NATION_1", 99.25]]
        self.assertIsNone(checks.compare_entry("q05_nation_revenue", [list(r) for r in want], want))
        self.assertIsNotNone(checks.compare_entry(
            "q05_nation_revenue", [["NATION_3", 1234.5], ["NATION_1", 99.26]], want))

    # nearest neighbours -------------------------------------------------

    def test_exact_knn_accepts_the_truth(self):
        self.assertIsNone(checks.check_knn_exact(self.exact_rows(), self.ids, self.sims))

    def test_neighbour_swapped_for_a_farther_point_is_rejected(self):
        rows = self.exact_rows()
        far = int(np.argmin(self.all_sims[0]))
        rows[2][1] = far
        self.assertIsNotNone(checks.check_knn_exact(rows, self.ids, self.sims))

    def test_ann_list_closer_than_exact_is_rejected(self):
        rows = self.exact_rows()
        self.assertIsNone(checks.check_ann(rows, self.sims, self.all_sims))
        rows[4][1] = 0  # the query itself: closer than any true neighbour
        self.assertIsNotNone(checks.check_ann(rows, self.sims, self.all_sims))
        rows = self.exact_rows()
        rows[4][1] = rows[3][1]  # a duplicate of the second-best
        self.assertIsNotNone(checks.check_ann(rows, self.sims, self.all_sims))

    def test_recall_of_far_points_is_below_the_floor(self):
        rows = self.exact_rows()
        self.assertEqual(checks.recall(rows, self.ids), 1.0)
        far_rows = []
        for q in range(len(self.ids)):
            order = np.argsort(self.all_sims[q])  # farthest first; -inf self first
            far = [int(i) for i in order if i != q][:5]
            far_rows += [[q, n, k + 1, 0.0] for k, n in enumerate(far)]
        self.assertIsNone(checks.check_ann(far_rows, self.sims, self.all_sims))
        self.assertIsNotNone(checks.check_recall(checks.recall(far_rows, self.ids), 0.15, "x"))
        self.assertIsNotNone(checks.check_recall(1.5, 0.15, "x"))

    # DML ----------------------------------------------------------------

    def test_merge_count_off_by_one_is_rejected(self):
        self.assertIsNone(checks.check_merge(["3000", "3000", "0"], [3000, 3000, 0]))
        self.assertIsNotNone(checks.check_merge(["3001", "3000", "0"], [3000, 3000, 0]))
        self.assertIsNotNone(checks.check_merge(["3000", "2999", "0"], [3000, 3000, 0]))

    def test_rows_not_conserved_are_rejected(self):
        self.assertIsNone(checks.check_conserved(100, 107, 10, 3, "x"))
        self.assertIsNotNone(checks.check_conserved(100, 108, 10, 3, "x"))

    def test_dml_model_conserves_rows(self):
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            exp = checks.dml_expected(gen.load_dml(4, d))
        self.assertEqual(exp["after_copy"][0][0], exp["copy_csv"] + exp["copy_json"])
        self.assertEqual(exp["after_merge"][0][0], exp["after_copy"][0][0] + exp["merge"][0])
        self.assertEqual(exp["after_delete"][0][0], exp["after_merge"][0][0] - exp["delete"])
        self.assertEqual(exp["after_insert"][0][0],
                         exp["after_delete"][0][0] + exp["insert_select"])

    # the end-to-end median -----------------------------------------------

    def test_hd_median(self):
        import run
        self.assertAlmostEqual(run.hd_median([3.0, 1.0, 2.0]), 2.0, places=6)
        self.assertAlmostEqual(run.hd_median([1.0, 2.0]), 1.5, places=6)
        self.assertAlmostEqual(run.hd_median([7.0]), 7.0, places=6)
        # with a gap at the middle, one statement crossing it moves the
        # sample median across the whole gap; the estimate moves far less
        a = [100.0] * 8 + [300.0] + [900.0] * 8
        b = [100.0] * 7 + [300.0] + [900.0] * 9
        plain = abs(statistics.median(a) - statistics.median(b))
        self.assertEqual(plain, 600.0)
        self.assertLess(abs(run.hd_median(a) - run.hd_median(b)), plain / 2)

    # BM25 ---------------------------------------------------------------

    def bm25_truth(self, query, docs, k):
        ids, dl, score = checks.bm25_scores(query, docs)
        order = sorted(range(len(ids)), key=lambda j: (-round(score[j], 6), ids[j]))[:k]
        return [[int(ids[j]), int(dl[j]), round(float(score[j]), 6)] for j in order]

    def test_bm25_accepts_the_truth_and_rejects_corruptions(self):
        docs = gen.analytic_docs(np.random.default_rng(7), 200)
        q, k = "spark merge table", 50
        rows = self.bm25_truth(q, docs, k)
        self.assertIsNone(checks.check_bm25(rows, q, docs, k))
        self.assertIsNotNone(checks.check_bm25([], q, docs, k))            # empty
        self.assertIsNotNone(checks.check_bm25(rows[:1], q, docs, k))      # one row
        self.assertIsNotNone(checks.check_bm25(rows[:-1], q, docs, k))     # truncated
        swapped = [rows[1], rows[0]] + rows[2:]
        if swapped[0][2] != swapped[1][2]:
            self.assertIsNotNone(checks.check_bm25(swapped, q, docs, k))   # out of order
        dup = rows[:-1] + [rows[0]]
        self.assertIsNotNone(checks.check_bm25(dup, q, docs, k))           # duplicate
        wrong = [list(r) for r in rows]
        wrong[3][2] += 0.01
        self.assertIsNotNone(checks.check_bm25(wrong, q, docs, k))         # wrong score
        # the best document dropped and the next one below the cut put last
        full = self.bm25_truth(q, docs, k + 1)
        skipped = full[1:]
        self.assertIsNotNone(checks.check_bm25(skipped, q, docs, k))

if __name__ == "__main__":
    unittest.main()

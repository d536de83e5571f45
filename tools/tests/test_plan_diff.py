"""Tests of tools/plan_diff.py over hand-written Explain dumps.

    python3 -m unittest discover -s tools/tests
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import plan_diff  # noqa: E402

BEFORE = """
===== q24_jaccard_pairs =====
== Physical Plan ==
(1) Scan ExistingRDD
Arguments: [sh#12L, doc_id#13L], MapPartitionsRDD[74] at localCheckpoint at TextOps.scala:851, ExistingRDD
(2) Exchange
Arguments: hashpartitioning(sh#12L, 32), ENSURE_REQUIREMENTS, [plan_id=11]
(3) MapPartitions
Arguments: graft.sources.Rpc$$$Lambda$4844/0x00007f3b3536e890@7fc8930f, obj#5: scala.Tuple2
(4) Scan parquet
Location: InMemoryFileIndex [file:/tmp/graft-run-12070559910863367987/static/lex_dl]

===== q44_skeleton_similarity =====
== Physical Plan ==
HashAggregate(keys=[a_id#1L, b_id#2L], functions=[sum((ca#3L * cb#4L))])
"""

# the same plans from another run: every id and call site moved
AFTER_SAME = """
===== q24_jaccard_pairs =====
== Physical Plan ==
(1) Scan ExistingRDD
Arguments: [sh#512L, doc_id#513L], MapPartitionsRDD[90] at localCheckpoint at TextAnalysis.scala:160, ExistingRDD
(2) Exchange
Arguments: hashpartitioning(sh#512L, 32), ENSURE_REQUIREMENTS, [plan_id=47]
(3) MapPartitions
Arguments: graft.sources.Rpc$$$Lambda$4786/0x00007f583d35da90@4b27a3fc, obj#9: scala.Tuple2
(4) Scan parquet
Location: InMemoryFileIndex [file:/tmp/graft-run-1636914140648158423/static/lex_dl]

===== q44_skeleton_similarity =====
== Physical Plan ==
HashAggregate(keys=[a_id#91L, b_id#92L], functions=[sum((ca#93L * cb#94L))])
"""


class PlanDiff(unittest.TestCase):
    def run_main(self, before, after, *flags):
        paths = []
        for text in (before, after):
            fd, path = tempfile.mkstemp(suffix=".txt")
            with os.fdopen(fd, "w") as f:
                f.write(text)
            paths.append(path)
            self.addCleanup(os.remove, path)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = plan_diff.main(paths + list(flags))
        return code, out.getvalue()

    def test_masks_run_specific_ids_call_sites_lambdas_and_temp_dirs(self):
        self.assertEqual(plan_diff.split(BEFORE), plan_diff.split(AFTER_SAME))
        code, out = self.run_main(BEFORE, AFTER_SAME)
        self.assertEqual(code, 0)
        self.assertIn("identical q24_jaccard_pairs", out)
        self.assertIn("identical q44_skeleton_similarity", out)

    def test_a_renamed_column_is_a_difference(self):
        after = AFTER_SAME.replace("ca#93L * cb#94L", "a_cnt#93L * b_cnt#94L")
        code, out = self.run_main(BEFORE, after, "-v")
        self.assertEqual(code, 1)
        self.assertIn("identical q24_jaccard_pairs", out)
        self.assertIn("different q44_skeleton_similarity", out)
        self.assertIn("+HashAggregate(keys=[a_id#NL, b_id#NL], "
                      "functions=[sum((a_cnt#NL * b_cnt#NL))])", out)

    def test_a_changed_long_literal_is_a_difference(self):
        before = BEFORE.replace("sum((ca#3L * cb#4L))",
                                "sum((ca#3L * cb#4L))], filter=[(a_id#1L < 1000000000000)")
        after = AFTER_SAME.replace("sum((ca#93L * cb#94L))",
                                   "sum((ca#93L * cb#94L))], filter=[(a_id#91L < 1000000000001)")
        code, out = self.run_main(before, after)
        self.assertEqual(code, 1)
        self.assertIn("different q44_skeleton_similarity", out)
        # the temp-dir digits of q24 are still masked
        self.assertIn("identical q24_jaccard_pairs", out)

    def test_a_subquery_section_belongs_to_its_query(self):
        sub = "\n===== Subqueries =====\n\nSubquery:1 Hosting operator id = 1\n"
        before = BEFORE.replace("\n===== q44", sub + "\n===== q44")
        plans = plan_diff.split(before)
        self.assertEqual(sorted(plans), ["q24_jaccard_pairs", "q44_skeleton_similarity"])
        self.assertIn("Subquery:1 Hosting operator id = 1", plans["q24_jaccard_pairs"])

    def test_a_query_missing_from_one_dump_fails(self):
        after = AFTER_SAME.split("===== q44")[0]
        code, out = self.run_main(BEFORE, after)
        self.assertEqual(code, 1)
        self.assertIn("missing   q44_skeleton_similarity", out)

    def test_only_restricts_the_comparison(self):
        after = AFTER_SAME.replace("ca#93L", "a_cnt#93L")
        code, out = self.run_main(BEFORE, after, "--only", "q24")
        self.assertEqual(code, 0)
        self.assertNotIn("q44", out)


if __name__ == "__main__":
    unittest.main()

"""Tests of tools/plandiff.py. Run from the root of a checkout:

    python3 -m unittest discover -s tools/tests -v
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import plandiff  # noqa: E402

# One gate of a PlanCheck dump: a higher-order function, a staged temp
# directory and the usual expression, plan and codegen ids.
DUMP = """
================ x_ann_pq_topk ================
== Physical Plan ==
AdaptiveSparkPlan (4)
+- Project (3)
   +- BroadcastHashJoin Inner BuildRight (2)
      +- Scan parquet  (1)

(1) Scan parquet [codegen id : {cg}]
Output [2]: [vec_id#{e1}L, embedding#{e2}]
Location: InMemoryFileIndex [file:/tmp/graft_tf_stage{tmp}]

(2) BroadcastHashJoin
Arguments: [plan_id={pid}]

(3) Project
Output [1]: [aggregate(zip_with(embedding#{e2}, embedding#{e2}, lambdafunction((cast(lambda x_{x}#{e3} as double) * cast(lambda y_{y}#{e4} as double)), lambda x_{x}#{e3}, lambda y_{y}#{e4}, false)), 0.0, lambdafunction((lambda x_{x2}#{e5} + lambda y_{y2}#{e6}), lambda x_{x2}#{e5}, lambda y_{y2}#{e6}, false), lambdafunction(lambda x_{x3}#{e7}, lambda x_{x3}#{e7}, false)) AS _n#{e8}]
Location: InMemoryFileIndex [file:/tmp/graft_sai_idx{tmp2}/idx, file:/tmp/graft_b8_src{tmp3}]
"""


def dump(**over):
    ids = dict(cg=1, e1=10, e2=11, e3=12, e4=13, e5=14, e6=15, e7=16, e8=17,
               pid=3179, x=1, y=2, x2=3, y2=4, x3=5,
               tmp="8914692042800609643", tmp2="7282012613304256342",
               tmp3="42")
    ids.update(over)
    return DUMP.format(**ids)


class PlanDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def run_diff(self, before, after):
        paths = []
        for name, text in (("before.txt", before), ("after.txt", after)):
            path = os.path.join(self.tmp.name, name)
            with open(path, "w") as f:
                f.write(text)
            paths.append(path)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = plandiff.main(["plandiff.py"] + paths)
        return code, out.getvalue()

    def test_run_specific_tokens_compare_equal(self):
        code, out = self.run_diff(
            dump(),
            dump(cg=7, e1=910, e2=911, e3=912, e4=913, e5=914, e6=915,
                 e7=916, e8=917, pid=12, x=29, y=30, x2=31, y2=32, x3=33,
                 tmp="1887392765690859860", tmp2="13262765565530580116",
                 tmp3="977"))
        self.assertEqual(code, 0, out)
        self.assertEqual(out, "")

    def test_operator_change_is_reported(self):
        code, out = self.run_diff(
            dump(), dump().replace("BroadcastHashJoin Inner BuildRight",
                                   "SortMergeJoin Inner"))
        self.assertEqual(code, 1)
        self.assertIn("+   +- SortMergeJoin Inner (2)", out)

    def test_named_temp_directory_is_kept(self):
        # only the random suffix is normalized: another directory differs
        code, _ = self.run_diff(
            dump(), dump().replace("graft_tf_stage", "graft_zorder"))
        self.assertEqual(code, 1)

    def test_lambda_name_is_kept(self):
        # only the counter is normalized: another variable name differs
        code, _ = self.run_diff(dump(), dump().replace("lambda y_", "lambda z_"))
        self.assertEqual(code, 1)


if __name__ == "__main__":
    unittest.main()

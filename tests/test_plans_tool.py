"""tools/plans.py's normalizer: run-specific ids never make two plans
differ, a changed operator always does. Pure Python: no SparkSession."""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plans import normalize  # noqa: E402

TMP = tempfile.gettempdir()
PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (6)
+- HashAggregate (5)
   +- Exchange (4)
      +- HashAggregate (3)
         +- Project (2)
            +- Scan ExistingRDD (1)

(1) Scan ExistingRDD
Output [2]: [node#{a}L, label#{b}L]
Arguments: [node#{a}L, label#{b}L], MapPartitionsRDD[{rdd}] at localCheckpoint, ExistingRDD, UnknownPartitioning(0)

(4) Exchange
Arguments: hashpartitioning(label#{b}L, 8), ENSURE_REQUIREMENTS, [plan_id={pid}]

(5) HashAggregate
Keys [1]: [label#{b}L]
Functions [1]: [{agg}(node#{a}L)]
Location: InMemoryFileIndex [file:{tmp}/spark-{tag}/index/vectors]
"""


def plan(a=12, b=13, rdd=40, pid=7, agg="min", tag="x1"):
    return PLAN.format(a=a, b=b, rdd=rdd, pid=pid, agg=agg, tmp=TMP, tag=tag)


def test_plans_differing_only_in_ids_and_temp_paths_compare_equal():
    assert plan() != plan(a=901, b=902, rdd=77, pid=31, tag="q9")
    assert normalize(plan()) == normalize(plan(a=901, b=902, rdd=77, pid=31, tag="q9"))


def test_plans_differing_in_one_operator_do_not():
    assert normalize(plan()) != normalize(plan(agg="max"))

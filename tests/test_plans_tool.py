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
Results: [filter(labels#{b}, lambdafunction(lambda x_{lam}#{a}L, lambda x_{lam}#{a}L, false))]
Location: InMemoryFileIndex [file:{tmp}/spark-{tag}/index/vectors]
"""


def plan(a=12, b=13, rdd=40, pid=7, agg="min", tag="x1", lam=5):
    return PLAN.format(a=a, b=b, rdd=rdd, pid=pid, agg=agg, tmp=TMP, tag=tag, lam=lam)


def test_plans_differing_only_in_ids_and_temp_paths_compare_equal():
    other = plan(a=901, b=902, rdd=77, pid=31, tag="q9", lam=17)
    assert plan() != other
    assert normalize(plan()) == normalize(other)


def test_plans_differing_in_one_operator_do_not():
    assert normalize(plan()) != normalize(plan(agg="max"))


# A persisted pin prints the AQE final plan its run chose under its
# InMemoryRelation: here a shuffle-stage join in one run and a broadcast
# join in the other, with a different node count, so every later node id
# shifts too.
CACHED = """\
== Physical Plan ==
AdaptiveSparkPlan ({top})
+- Filter ({filt})
   +- InMemoryTableScan (1)
         +- InMemoryRelation (2)
               +- AdaptiveSparkPlan ({asp})
                  +- == Final Plan ==
{final}
                  +- == Initial Plan ==
                     SortMergeJoin Inner ({smj})
                     :- Scan parquet  (3)
                     +- Scan parquet  (4)


(1) InMemoryTableScan
Output [1]: [k#{k}L]

(2) InMemoryRelation
Arguments: [k#{k}L], StorageLevel({level})

(3) Scan parquet
Output [1]: [k#{k}L]

(4) Scan parquet
Output [1]: [k#{j}L]

{final_details}
({smj}) SortMergeJoin
Left keys [1]: [k#{k}L]
Right keys [1]: [k#{j}L]
Join type: Inner

({asp}) AdaptiveSparkPlan
Arguments: isFinalPlan=true

({filt}) Filter
Condition : (k#{k}L {cond})

({top}) AdaptiveSparkPlan
Arguments: isFinalPlan=false
"""

SHUFFLE_FINAL = """\
                     ResultQueryStage (8)
                     +- * SortMergeJoin Inner (7)
                        :- ShuffleQueryStage (5), Statistics(sizeInBytes=4.1 KiB, rowCount=25)
                        :  +- Exchange (9)
                        :     +- Scan parquet  (3)
                        +- ShuffleQueryStage (6), Statistics(sizeInBytes=2.0 KiB, rowCount=9)
                           +- Exchange (10)
                              +- Scan parquet  (4)"""
SHUFFLE_DETAILS = """\
(5) ShuffleQueryStage
Arguments: 0

(6) ShuffleQueryStage
Arguments: 1

(7) SortMergeJoin [codegen id : 3]
Join type: Inner

(8) ResultQueryStage
Arguments: 2

(9) Exchange
Arguments: hashpartitioning(k#{k}L, 8), ENSURE_REQUIREMENTS, [plan_id=11]

(10) Exchange
Arguments: hashpartitioning(k#{j}L, 8), ENSURE_REQUIREMENTS, [plan_id=12]
"""
BROADCAST_FINAL = """\
                     ResultQueryStage (7)
                     +- * BroadcastHashJoin Inner BuildRight (6)
                        :- Scan parquet  (3)
                        +- BroadcastQueryStage (5), Statistics(sizeInBytes=64.0 MiB, rowCount=9)
                           +- BroadcastExchange (8)
                              +- Scan parquet  (4)"""
BROADCAST_DETAILS = """\
(5) BroadcastQueryStage
Arguments: 1

(6) BroadcastHashJoin [codegen id : 2]
Join type: Inner

(7) ResultQueryStage
Arguments: 3

(8) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=14]
"""


def cached_plan(broadcast=False, level="disk, memory, 1 replicas", cond="> 0", k=21, j=22):
    final, details, n = (
        (BROADCAST_FINAL, BROADCAST_DETAILS, 8) if broadcast else (SHUFFLE_FINAL, SHUFFLE_DETAILS, 10)
    )
    return CACHED.format(
        final=final, final_details=details.format(k=k, j=j), level=level, cond=cond,
        smj=n + 1, asp=n + 2, filt=n + 3, top=n + 4, k=k, j=j,
    )


def test_plans_differing_only_in_a_cached_plan_compare_equal():
    shuffle, broadcast = cached_plan(), cached_plan(broadcast=True, k=37, j=38)
    assert "== Final Plan ==" in shuffle and shuffle != broadcast
    assert normalize(shuffle) == normalize(broadcast)
    assert "<cached plan>" in normalize(shuffle) and "QueryStage" not in normalize(shuffle)


def test_a_change_outside_the_cached_plan_still_differs():
    assert normalize(cached_plan()) != normalize(cached_plan(broadcast=True, cond="> 1"))
    assert normalize(cached_plan()) != normalize(cached_plan(broadcast=True, level="memory, 1 replicas"))

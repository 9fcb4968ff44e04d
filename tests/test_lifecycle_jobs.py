"""Job budget of the lifecycle's graph prefix.

The prefix (fix_gaps, snap/split rounds, orphan and collapse rounds,
components) runs as one grouped pandas stage. As relational round loops
it submitted 88 + 53 Spark jobs for a ~2k-edge graph, each paying
planning, codegen and scheduling; a change that brings back per-round
eager queries fails this test."""

from pfaedle_spark.plans import lifecycle

# measured: 2 jobs (the eager materialization and the components
# collect); the slack covers adaptive re-planning, not an extra round
MAX_JOBS = 4


def test_graph_prefix_and_components_job_budget(spark):
    sc = spark.sparkContext
    group = "lifecycle-graph-prefix-budget"
    lifecycle._COMPOSED_MEMO.clear()
    sc.setJobGroup(group, "composed graph prefix + components")
    try:
        lifecycle.composed_graph(spark)
        labels = lifecycle.composed_components(spark).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert labels
    assert len(jobs) <= MAX_JOBS, f"{len(jobs)} Spark jobs for the graph prefix"

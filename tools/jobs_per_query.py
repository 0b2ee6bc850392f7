"""Spark jobs, stages, tasks and code compiles per warm call of registry
queries.

    SPARK_GRAFT_CPUS=4 python3 tools/jobs_per_query.py xh_kcore_peel,xp_pagerank --sf FIXTURE_DIR

FIXTURE_DIR holds the fixture tables (``lineitem.parquet`` and so on) of one
scale factor, as the tests' ``sf_smoke`` and ``sf_oracle`` directories do.

Starts the engine's session (``get_spark``, which takes its cores from
``SPARK_GRAFT_CPUS``), makes one cold round of calls, one per query in the
order given, then three warm rounds, as the benchmark's passes run a mix,
and prints one line per call with the jobs, stages and tasks that
ran (read through ``statusTracker``) and the generated classes it compiled
(the count of Spark's ``CodegenMetrics`` compilation timer). A call is the
query's function (the build: table opens, eager probes and checkpoints)
plus its action: ``toPandas()`` for hash-checked (H-class) queries,
``collect()`` for the others, as the benchmark runs them. Build and action
each run in a Spark job group of their own, so their jobs print as separate
columns; stages and tasks cover both. Jobs that the query starts from a thread of its own are
not in its groups and are not counted. Stages and tasks count what ran: a
stage whose shuffle output an earlier job left behind is skipped, and
neither it nor its tasks count. Compiles count the whole call, from any
thread: a warm call compiles none unless the codegen cache dropped some of
its classes while the round ran the other queries.
"""

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WARM_CALLS = 3


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks:
                stages += 1
                tasks += st.numCompletedTasks
    return jobs, stages, tasks


def call(spark, q, sf: str, group: str) -> float:
    """Run one call: the build under ``group-build``, the action under
    ``group-action``. Returns its wall time."""
    sc = spark.sparkContext
    t0 = time.perf_counter()
    try:
        sc.setJobGroup(f"{group}-build", q.name)
        df = q.fn(spark, sf)
        sc.setJobGroup(f"{group}-action", q.name)
        df.toPandas() if q.oracle else df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return time.perf_counter() - t0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("names", help="comma-separated registry query names")
    p.add_argument("--sf", required=True, help="fixture directory of one scale factor")
    args = p.parse_args(argv)

    from hadoop_copier_spark.queries import REGISTRY
    from hadoop_copier_spark.session import get_spark

    names = [n for n in args.names.split(",") if n]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        p.error(f"not in the registry: {', '.join(unknown)}")
    spark = get_spark(app_name="jobs-per-query")
    sc = spark.sparkContext
    print(f"# sf={args.sf} cores={sc.defaultParallelism} spark={spark.version}")
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = lambda: codegen.METRIC_COMPILATION_TIME().getCount()
    print("query\tcall\tbuild_jobs\taction_jobs\tstages\ttasks\tcompiles\twall_s")
    for i in range(WARM_CALLS + 1):
        for name in names:
            q = REGISTRY[name]
            group = f"jpq-{name}-{i}"
            before = compiled()
            wall = call(spark, q, args.sf, group)
            compiles = compiled() - before
            build_jobs, build_stages, build_tasks = group_counts(sc, f"{group}-build")
            action_jobs, action_stages, action_tasks = group_counts(sc, f"{group}-action")
            kind = "cold" if i == 0 else f"warm{i}"
            print(f"{name}\t{kind}\t{build_jobs}\t{action_jobs}\t{build_stages + action_stages}"
                  f"\t{build_tasks + action_tasks}\t{compiles}\t{wall:.2f}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

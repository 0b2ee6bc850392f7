"""Spark jobs, stages and tasks per warm call of registry queries.

    SPARK_GRAFT_CPUS=4 python3 tools/jobs_per_query.py xh_kcore_peel,xp_pagerank --sf FIXTURE_DIR

FIXTURE_DIR holds the fixture tables (``lineitem.parquet`` and so on) of one
scale factor, as the tests' ``sf_smoke`` and ``sf_oracle`` directories do.

Starts the engine's session (``get_spark``, which takes its cores from
``SPARK_GRAFT_CPUS``), makes one cold call of each query, then three warm
calls, each in its own Spark job group, and prints one line per call with
the jobs, stages and tasks that ran under that group (read through
``statusTracker``). A call is the query's function plus its action:
``toPandas()`` for hash-checked (H-class) queries, ``collect()`` for the
others, as the benchmark runs them. Jobs that the query starts from a thread
of its own are not in its group and are not counted. Stages and tasks count what ran: a stage whose shuffle output an
earlier job left behind is skipped, and neither it nor its tasks count.
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
    sc = spark.sparkContext
    sc.setJobGroup(group, q.name)
    t0 = time.perf_counter()
    try:
        df = q.fn(spark, sf)
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
    print("query\tcall\tjobs\tstages\ttasks\twall_s")
    for name in names:
        q = REGISTRY[name]
        for i in range(WARM_CALLS + 1):
            group = f"jpq-{name}-{i}"
            wall = call(spark, q, args.sf, group)
            jobs, stages, tasks = group_counts(sc, group)
            kind = "cold" if i == 0 else f"warm{i}"
            print(f"{name}\t{kind}\t{jobs}\t{stages}\t{tasks}\t{wall:.2f}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

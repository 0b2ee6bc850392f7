"""Pins for ``tables.read_parquet``'s process-wide schema memo: a table
whose parquet footer has been seen opens with no Spark job and the schema
inference would give (test_events_layout.py pins that a rewritten file
or a changed inference conf is never served a stale schema)."""

from hadoop_copier_spark.tables import TABLES, load_table, read_parquet


def test_warm_table_open_runs_no_job(spark, sf_smoke):
    sc = spark.sparkContext
    for name in TABLES:
        load_table(spark, sf_smoke, name)  # cold: may infer
        group = f"warm-open-{name}"
        sc.setJobGroup(group, group)
        try:
            df = load_table(spark, sf_smoke, name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0, name
        path = f"{sf_smoke}/{name}.parquet"
        inferred = spark.read.parquet(path).schema
        assert read_parquet(spark, path).schema == inferred, name
        if name != "events":  # events normalizes its ts column
            assert df.schema == inferred, name

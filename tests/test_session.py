"""The engine session's Python worker daemon (``_worker_daemon``): a task
must not re-read an unchanged zip archive's directory, must still re-read
one that changed, and workers must find the daemon from any working
directory."""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_task_does_not_reread_unchanged_zip_directories(spark):
    """Every task calls ``importlib.invalidate_caches()`` while it sets up
    its files. With the stock ``pyspark.daemon`` on CPython < 3.12 that one
    call re-reads pyspark.zip's central directory once per zipimporter
    (14-16 reads); the engine's daemon makes it read none."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "hadoop_copier_spark._worker_daemon"

    def directory_reads(_):
        import importlib
        import zipimport

        read = zipimport._read_directory
        calls = []

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return len(calls)

    assert sc.parallelize([0], 1).map(directory_reads).collect() == [0]


REWRITE_ZIP = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport
    from hadoop_copier_spark import _worker_daemon

    _worker_daemon.install()
    archive = sys.argv[1]

    def write(value):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zmod.py", f"VALUE = {value!r}\\n")

    read = zipimport._read_directory
    reads = []
    zipimport._read_directory = lambda path: reads.append(path) or read(path)

    write("old")
    sys.path.insert(0, archive)
    import zmod
    assert zmod.VALUE == "old"
    importlib.invalidate_caches()  # first call: reads and stamps
    first = len(reads)
    importlib.invalidate_caches()  # archive unchanged: no read
    unchanged = len(reads) - first
    write("rewritten")
    importlib.invalidate_caches()
    changed = len(reads) - first - unchanged
    del sys.modules["zmod"]
    import zmod
    print(zmod.VALUE, unchanged, changed)
    """
)


def test_rewritten_zip_is_still_reread(tmp_path):
    """In a fresh interpreter, so this process's import machinery is left
    alone: with the gate installed, an archive rewritten after its module
    was imported is re-read, and its new contents import."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])))
    out = subprocess.run(
        [sys.executable, "-c", REWRITE_ZIP, str(tmp_path / "mods.zip")],
        env=env, capture_output=True, text=True, check=True, timeout=120,
    ).stdout.split()
    assert out[0] == "rewritten"
    if sys.version_info < (3, 12):
        assert out[1:] == ["0", "1"]


OUTSIDE_JOB = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from hadoop_copier_spark.session import get_spark

    spark = get_spark(cpus=1, shuffle_partitions=1)
    try:
        rows = spark.createDataFrame([(1,), (2,)], "x int").collect()
        print(sorted(r.x for r in rows))
    finally:
        spark.stop()
    """
)


def test_workers_import_daemon_from_any_working_directory(tmp_path):
    """Every Python worker starts from the engine's daemon module, also in
    a job that runs no engine code. A driver that put the repo only on its
    own ``sys.path``, running elsewhere with no ``PYTHONPATH``, must still
    run Python tasks."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run(
        [sys.executable, "-c", OUTSIDE_JOB, ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split("\n")[-2] == "[1, 2]"


# The benchmark's sql_analytics mix: 99 distinct generated classes.
SQL_MIX = ["q24", "q12", "q35", "q43", "q61", "xh_tpch_q3", "xh_tpch_q14"]


def test_warm_sql_pass_compiles_no_generated_class(spark, sf_smoke):
    """The codegen cache holds every class the SQL mix generates, so a
    second pass over it compiles none (at Spark's default of 100 entries,
    in 4 LRU segments of 25, a warm pass compiled 27 to 48 of them again,
    depending on the session's shuffle partitions)."""
    from hadoop_copier_spark.queries import REGISTRY

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = lambda: metrics.METRIC_COMPILATION_TIME().getCount()

    def run_pass() -> int:
        before = compiled()
        for name in SQL_MIX:
            q = REGISTRY[name]
            df = q.fn(spark, sf_smoke)
            df.toPandas() if q.oracle else df.collect()
        return compiled() - before

    run_pass()
    assert run_pass() == 0

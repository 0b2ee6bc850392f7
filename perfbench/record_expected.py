"""Record the expected results of the P-class (rows-only) queries.

    python3 perfbench/record_expected.py

Runs every P-class query of the benchmark's mixes in two fresh sessions
over the benchmark fixtures and writes ``expected.json``: the Spark-side
``testing.result_hash`` where both sessions agree on it, else the row
count where they agree on that. H-class queries need no record; runs
check them against DuckDB. Re-run after changing the fixtures or a mix.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from spark_env import HERE, ROOT, prepare_env, start_session, stop_session, nproc


def main() -> int:
    sys.path.insert(0, ROOT)
    from fixtures import write_fixtures
    from hadoop_copier_spark.queries import REGISTRY
    from hadoop_copier_spark.testing import result_hash
    from run import EXPECTED, SCALE
    from workloads import LLM_MIX, MODULE_PROBES, SQL_MIX

    names = sorted({n for n in SQL_MIX + LLM_MIX + list(MODULE_PROBES.values()) if not REGISTRY[n].oracle})
    work_dir = os.path.join(HERE, "_work", f"record-{os.getpid()}")
    seen: dict[str, list[tuple[str, int]]] = {}
    try:
        prepare_env(work_dir)
        sf_dir = write_fixtures(os.path.join(work_dir, "fixtures"), SCALE)
        for _ in range(2):
            spark = start_session(work_dir, nproc())
            for name in names:
                df = REGISTRY[name].fn(spark, sf_dir)
                rows = df.collect()
                seen.setdefault(name, []).append((result_hash(df.columns, rows), len(rows)))
            spark.stop()
    finally:
        stop_session()
        shutil.rmtree(work_dir, ignore_errors=True)
    out = {}
    for name, vals in seen.items():
        if len({h for h, _ in vals}) == 1:
            out[name] = {"hash": vals[0][0]}
        elif len({n for _, n in vals}) == 1:
            out[name] = {"rows": vals[0][1]}
        else:
            print(f"{name}: neither hash nor row count repeats: {vals}", file=sys.stderr)
            return 1
    with open(EXPECTED, "w") as f:
        json.dump({"scale": SCALE, "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run one benchmark workload and print its metrics as a JSON line.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 11 --trace 0

``--trace 0`` reports the end-to-end metrics of an untraced run.
``--trace 1`` reports per-layer metrics from spans recorded around the
engine calls, plus the tracing overhead, and probes every layer the
workload itself does not reach (see ``workloads.probe_layers``).

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the line before it holds details (nproc, loadavg, sample counts,
error rate, per-workload throughput, failures).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

from harness import (  # noqa: E402
    NullTracer,
    RssSampler,
    Tracer,
    cpu_steal_ticks,
    highest_supported_percentile,
    median,
    metric,
    percentile,
    result_line,
)
from spark_env import HERE, ROOT, nproc, prepare_env, start_session, stop_session  # noqa: E402

# Fixture scale: lineitem 6,000 rows, documents/embeddings 500, events 10,000.
SCALE = 0.001
SETUPS = 3
# Untimed passes after the cold pass. Warm sql passes kept getting faster
# until about the fourth after the cold one (3.9, 3.5, 3.5, 3.1, 3.0 s on
# an idle 4-core box), so the window starts at the fifth pass.
WARMUP_PASSES = 3
EXPECTED = os.path.join(HERE, "expected.json")
TRACES = os.path.join(HERE, "_traces")  # span dumps of traced runs


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def setup(run, workload, tracer, first: bool) -> float:
    """One full set-up: fixtures, a fresh session, views, workload inputs.
    The first one is timed from process start (imports, JVM launch)."""
    from fixtures import write_fixtures
    from hadoop_copier_spark.tables import register_views

    t0 = T_START if first else time.perf_counter()
    run.tracer = tracer
    write_fixtures(run.sf_dir, SCALE)
    with tracer.span("session.start"):
        run.spark = start_session(run.work_dir, run.nproc)
    with tracer.span("tables.register_views"):
        register_views(run.spark, run.sf_dir)
    workload.prepare(run)
    return time.perf_counter() - t0


def timed_window(run, workload) -> tuple[list[float], float]:
    """Whole passes until ``run.seconds`` have elapsed."""
    lat: list[float] = []
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        lat += workload.one_pass(run)
        run.pass_s.append(time.perf_counter() - t)
        if time.perf_counter() - t0 >= run.seconds:
            return lat, time.perf_counter() - t0


def paired_window(run, workload, tracer) -> tuple[list[float], list[float], float]:
    """Untraced and traced passes in turn until ``run.seconds`` have
    elapsed, ending on a traced pass: both halves see the same machine
    state, so their median difference is the tracing overhead."""
    untraced, lat, traced_lat = run.tracer, [], []
    t0 = time.perf_counter()
    while True:
        lat += workload.one_pass(run)
        run.tracer = tracer
        traced_lat += workload.one_pass(run)
        run.tracer = untraced
        if time.perf_counter() - t0 >= run.seconds:
            run.tracer = tracer  # checks and probes are traced too
            return lat, traced_lat, time.perf_counter() - t0


def run_workload(args, work_dir: str, rss: RssSampler) -> tuple[dict, dict]:
    from workloads import WORKLOADS, Run, probe_layers

    with open(EXPECTED) as f:
        expected = json.load(f)
    tracer = Tracer() if args.trace else NullTracer()
    untraced = NullTracer()
    workload = WORKLOADS[args.workload]()
    run = Run(
        spark=None,
        sf_dir=os.path.join(work_dir, "fixtures"),
        work_dir=work_dir,
        seed=args.seed,
        seconds=args.seconds,
        nproc=nproc(),
    )
    if expected.get("scale") != SCALE:
        run.fail(f"expected.json was recorded at scale {expected.get('scale')}, not {SCALE}")

    setups = []
    for i in range(SETUPS):
        if i:
            run.spark.stop()
        setups.append(setup(run, workload, tracer, first=(i == 0)))

    run.tracer = untraced
    t = time.perf_counter()
    workload.one_pass(run)
    cold_pass_s = time.perf_counter() - t
    for _ in range(WARMUP_PASSES):
        workload.one_pass(run)
    run.op_latency.clear()
    steal0 = cpu_steal_ticks()
    if args.trace:
        lat, traced_lat, window_s = paired_window(run, workload, tracer)
    else:
        lat, window_s = timed_window(run, workload)
    steal1 = cpu_steal_ticks()

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": run.nproc,
        "loadavg": os.getloadavg(),
        # share of the machine's CPU time the host took during the window
        "window_cpu_steal": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "scale": SCALE,
        "setups_s": setups,
        "window_s": window_s,
        "pass_s": [round(x, 3) for x in run.pass_s],
        "timed_ops": len(lat),
        "op_p50_ms_by_type": {k: round(median(v) * 1000.0, 1) for k, v in sorted(run.op_latency.items())},
        "highest_supported_percentile": highest_supported_percentile(len(lat)),
    }
    workload.check(run, expected["queries"])
    if args.trace:
        probe_layers(run, expected["queries"])
        metrics = layer_metrics(run, tracer)
        overhead = percentile(traced_lat, 50) - percentile(lat, 50)
        metrics["trace.overhead_ms"] = metric(overhead * 1000.0, "ms")
        os.makedirs(TRACES, exist_ok=True)
        trace_file = os.path.join(TRACES, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(trace_file)
        detail["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        metrics = {
            "setup_s": metric(median(setups), "s"),
            "cold_pass_s": metric(cold_pass_s, "s"),
            "op_p50_ms": metric(percentile(lat, 50) * 1000.0, "ms"),
            "op_p90_ms": metric(percentile(lat, 90) * 1000.0, "ms"),
            "ops_per_s": metric(len(lat) / window_s, "1/s"),
        }
    rss.sample()
    metrics["peak_rss_mb" if not args.trace else "process.peak_rss_mb"] = metric(rss.peak_mb, "MiB")
    failed = min(len(run.failures), run.attempted)
    detail.update(run.extra)
    detail["error_rate"] = failed / max(1, run.attempted)
    detail["failures"] = run.failures[:20]
    return result_line(not run.failures, run.attempted, failed, metrics), detail


def layer_metrics(run, tracer: Tracer) -> dict:
    """Per-layer metrics from the traced spans and counters."""
    from workloads import MODULE_PROBES

    selfs = tracer.self_times()
    c = run.counts

    def med(name, unit="ms", **match):
        spans = [
            s for s in tracer.by_name(name) if all(s.attrs.get(k) == v for k, v in match.items())
        ]
        vals = [selfs[s.span_id] for s in spans]
        scale = 1000.0 if unit == "ms" else 1.0
        return metric(median(vals) * scale if vals else 0.0, unit)

    def ratio(num, den, unit="ratio"):
        return metric(c.get(num, 0) / c[den] if c.get(den) else 0.0, unit)

    m = {
        "session.start_s": med("session.start", "s"),
        "session.first_start_s": metric(selfs[tracer.by_name("session.start")[0].span_id], "s"),
        "tables.register_views_ms": med("tables.register_views"),
        "queries.build_ms": med("queries.build"),
        "queries.exec_ms": med("queries.exec"),
    }
    for module in MODULE_PROBES:
        m[f"queries.{module}.exec_ms"] = med("queries.exec", module=module)
    m.update(
        {
            "queries.jobs_per_op": ratio("queries.jobs", "queries.ops", "count"),
            "queries.tasks_per_op": ratio("queries.tasks", "queries.ops", "count"),
            "queries.failed_tasks": metric(c.get("queries.failed_tasks", 0), "count"),
            "plans.exchanges_per_op": ratio("plans.exchanges", "queries.ops", "count"),
            "plans.broadcasts_per_op": ratio("plans.broadcasts", "queries.ops", "count"),
            "memo.keys_built": metric(c.get("memo.keys_built", 0), "count"),
            "memo.hit_ratio": ratio("memo.hits", "memo.cache_ops"),
        }
    )
    for name in (
        "minhash_signature", "lsh_candidate_pairs", "near_dup_pairs", "simhash64", "dedup_clusters",
        "cosine_topk", "lsh_ann_topk", "ivf_ann_topk", "semantic_dedup", "cdc_chunks",
    ):
        m[f"operators.{name}_ms"] = med(f"operators.{name}")
    m["operators.lsh_pair_yield"] = ratio("operators.near_dup_pairs", "operators.lsh_candidates")
    m["functions.text_ms"] = med("functions.text")
    m["sources.image_phash_ms"] = med("sources.image_phash")
    m["fs.walk_ms"] = med("fs.walk")
    m["fs.files_listed"] = ratio("fs.files_listed", "fs.walks", "count")
    m["copyjob.submit_ms"] = med("copyjob.submit")
    for cls in ("small", "medium", "split"):
        m[f"copyjob.submit_{cls}_ms"] = med("copyjob.submit", cls=cls)
    submit_s = sum(selfs[s.span_id] for s in tracer.by_name("copyjob.submit"))
    m["copyjob.MBps"] = metric(c.get("copyjob.user_bytes", 0) / 2**20 / submit_s if submit_s else 0.0, "MiB/s")
    m["copyjob.tasks_per_request"] = ratio("copyjob.tasks", "copyjob.requests", "count")
    m["copyjob.verified_ratio"] = ratio("copyjob.items_verified", "copyjob.items")
    m["copyjob.read_bytes_per_user_byte"] = ratio("copyjob.read_bytes", "copyjob.user_bytes")
    m["copyjob.write_bytes_per_user_byte"] = ratio("copyjob.write_bytes", "copyjob.user_bytes")
    m["streaming.replay_s"] = med("streaming.replay", "s")
    for key in ("trigger_ms", "addbatch_ms", "commit_ms", "state_commit_ms"):
        m[f"streaming.{key}"] = ratio(f"streaming.{key}", "streaming.batches", "ms")
    m["streaming.state_rows"] = metric(c.get("streaming.state_rows", 0), "count")
    m["streaming.sched_gap_ms"] = ratio("streaming.sched_gap_ms", "streaming.streams", "ms")
    events = c.get("streaming.events", 0)
    stream_s = sum(selfs[s.span_id] for s in tracer.by_name("streaming.stream"))
    m["streaming.events_per_s"] = metric(events / stream_s if stream_s else 0.0, "1/s")
    m["testing.oracle_ms"] = med("testing.oracle")
    m["testing.mismatches"] = metric(c.get("testing.mismatches", 0), "count")
    m["trace.spans"] = metric(len(tracer.spans), "count")
    return m


def _exit_on_sigterm(signum, frame):
    sys.exit(128 + signum)  # unwinds through the finally blocks below


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    sys.path.insert(0, ROOT)
    try:
        import hadoop_copier_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    work_dir = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    try:
        prepare_env(work_dir)
        with RssSampler() as rss:
            try:
                result, detail = run_workload(args, work_dir, rss)
            finally:
                stop_session()
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "_work"))
        except OSError:
            pass  # another run still uses it
    for f in detail["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's workloads and the layer probes of a traced run.

Every workload is a closed loop with one client: each op starts after the
previous one returned. An op is one registry query run to its action, one
copy request from ``submit`` to ``status``, or one streaming micro-batch.
A run makes a cold pass over the workload's mix in a fresh session, three
warm-up passes, then timed passes until ``--seconds`` have elapsed; only
whole passes are timed, so every query or request class weighs the same
in every run whatever the seed.

The mix is a fixed cycle and the seed picks where a run enters it; every
pass is the same rotation. So each op follows the same predecessor in
every run: an op's latency depends on what ran just before it (lingering
cleanup, GC, cache state), and a fresh shuffle per seed measured up to
18 % spread in the median op latency across seeds, against 7 % for one
order.

The engine is driven only through its public functions, and timed from
outside: ``session.get_spark``, ``tables.register_views``,
``REGISTRY[name].fn``, ``operators.*``, ``functions.text.*``,
``sources.multimodal.*``, ``fs.fs_for``, ``CopyJobEngine.submit/status``,
``streaming.*`` and ``testing.*``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from harness import NullTracer, io_counters, job_group_counts, process_tree

# The SQL mix: JVM-only H-class queries (no Python workers), one or two
# per relational query module; xh_tpch_q14 fronts a memoized probe site.
SQL_MIX = ["q24", "q12", "q35", "q43", "q61", "xh_tpch_q3", "xh_tpch_q14"]
# The LLM-curation mix: pandas-UDF / Arrow and iterative operators.
LLM_MIX = ["xh_minhash_lsh_pairs", "q59", "xp_cdc_chunking", "xp_image_phash"]
# One cheap query per module, run by a traced run for modules its own
# workload did not touch, so every per-module metric is measured.
MODULE_PROBES = {
    "aggregates": "q24",
    "tpch_analogs": "xh_tpch_q6",
    "joins": "q12",
    "windows": "q35",
    "sorts_setops": "q43",
    "streaming_batch": "q61",
    "dedup_oracle": "xh_text_quality",
    "llm_ops": "q59",
    "parity": "xp_image_phash",
}

KIB, MIB = 1024, 1024 * 1024
# copy_ingest request classes: (files, bytes per file). The split file is
# above the engine's own 256 MiB byte-range split threshold.
COPY_CLASSES = {
    "small": (200, 64 * KIB),
    "medium": (4, 32 * MIB),
    "split": (1, 272 * MIB),
}
# One round of copy requests (a cycle the seed rotates).
COPY_ROUND = ["small", "small", "medium", "split"]
# The same classes at probe size (traced runs of the other workloads).
PROBE_COPY_CLASSES = {"small": (32, 64 * KIB), "medium": (2, 4 * MIB), "split": (1, 6 * MIB)}
STREAM_CHUNKS = 10


@dataclass
class Run:
    """State of one benchmark invocation, passed to every workload step."""

    spark: object
    sf_dir: str
    work_dir: str
    seed: int
    seconds: float
    nproc: int
    tracer: object = field(default_factory=NullTracer)
    attempted: int = 0
    failures: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)  # per-layer counters
    extra: dict = field(default_factory=dict)  # per-workload end-to-end extras
    op_latency: dict = field(default_factory=dict)  # op type -> latencies (s)
    pass_s: list = field(default_factory=list)  # timed pass durations (s)

    def next_op(self) -> int:
        """Count one attempted op; returns its id."""
        self.attempted += 1
        return self.attempted

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def count(self, key: str, n: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n


def rotation(cycle: list, seed: int) -> list:
    """The cycle entered at the position the seed picks."""
    k = seed % len(cycle)
    return cycle[k:] + cycle[:k]


# ---------------------------------------------------------------------------
# Correctness comparators: each returns None, or what is wrong
# ---------------------------------------------------------------------------


def oracle_problem(result_pdf, reference) -> str | None:
    """A pandas result against a reference already canonicalised by
    ``testing.canon_pdf`` (the DuckDB oracle, or batch q61 for a stream)."""
    from hadoop_copier_spark.testing import canon_pdf

    cols, rows = canon_pdf(result_pdf)
    ref_cols, ref_rows = reference
    if cols != ref_cols:
        return f"columns {cols} differ from the reference's {ref_cols}"
    if len(rows) != len(ref_rows):
        return f"{len(rows)} rows, the reference has {len(ref_rows)}"
    if rows != ref_rows:
        return "rows differ from the reference"
    return None


def recorded_problem(columns, rows, want: dict | None) -> str | None:
    """A P-class result against its ``expected.json`` record: the
    Spark-side ``testing.result_hash``, or the row count."""
    from hadoop_copier_spark.testing import result_hash

    if want is None:
        return "no recorded expectation"
    if "hash" in want:
        return None if result_hash(columns, rows) == want["hash"] else "result hash differs from the recorded one"
    if len(rows) != want["rows"]:
        return f"{len(rows)} rows, recorded {want['rows']}"
    return None


def copy_problem(status: dict, dst: str, listing: dict[str, int]) -> str | None:
    """A finished copy request: task COMPLETED, every item checksum-verified,
    and the destination holding exactly the source's files and sizes."""
    items = status["items"]
    verified = sum(1 for i in items if i["checksumVerified"])
    if status["status"] != "COMPLETED" or verified != len(items):
        return f"status {status['status']}, {verified}/{len(items)} items checksum-verified"
    got = {}
    for dirpath, _, files in os.walk(dst):
        for fn in files:
            p = os.path.join(dirpath, fn)
            got[os.path.relpath(p, dst)] = os.path.getsize(p)
    if got != listing:
        return "destination files or sizes differ from the source"
    return None


# ---------------------------------------------------------------------------
# Query workloads (sql_analytics, llm_curation)
# ---------------------------------------------------------------------------


def query_module(name: str) -> str:
    from hadoop_copier_spark.queries import REGISTRY

    return REGISTRY[name].fn.__module__.rsplit(".", 1)[-1]


def run_query(run: Run, name: str):
    """One query op: build the DataFrame, run its action. H-class queries
    collect through ``toPandas()`` (the oracle harness's serializer),
    P-class ones through ``collect()``. Returns (latency_s, result) or
    None when the op failed."""
    from hadoop_copier_spark import memo
    from hadoop_copier_spark.plans.inspect import explain_str
    from hadoop_copier_spark.queries import REGISTRY

    q = REGISTRY[name]
    module = query_module(name)
    tr = run.tracer
    op = run.next_op()
    sc = run.spark.sparkContext
    keys_before = memo.snapshot_cache_keys()
    if tr.enabled:
        sc.setJobGroup(f"op-{op}", name)
    t0 = time.perf_counter()
    try:
        with tr.span("queries.op", op, query=name, module=module):
            with tr.span("queries.build", op, module=module):
                df = q.fn(run.spark, run.sf_dir)
            with tr.span("queries.exec", op, module=module):
                result = df.toPandas() if q.oracle else (df.columns, df.collect())
        latency = time.perf_counter() - t0
    except Exception as e:  # an op that raises is a failed op, not a crash
        run.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        return None
    finally:
        if tr.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
    if tr.enabled:
        jobs, tasks, failed = job_group_counts(sc, f"op-{op}")
        run.count("queries.ops")
        run.count("queries.jobs", jobs)
        run.count("queries.tasks", tasks)
        run.count("queries.failed_tasks", failed)
        plan = explain_str(df)
        run.count("plans.exchanges", _plan_nodes(plan, "Exchange"))
        run.count("plans.broadcasts", _plan_nodes(plan, "BroadcastHashJoin"))
    # memo counts cover every pass, so the cold pass's cache builds show
    built = sum(len(keys - keys_before.get(c, set())) for c, keys in memo.snapshot_cache_keys().items())
    run.count("memo.keys_built", built)
    if memo.consumed_caches(q.fn):
        run.count("memo.cache_ops")
        run.count("memo.hits", 1 if built == 0 else 0)
    return latency, result


def _plan_nodes(plan: str, node: str) -> int:
    """Count physical-plan nodes named ``node`` in a formatted explain
    (each node's detail block starts with ``(id) Name``)."""
    n = 0
    for line in plan.splitlines():
        if line.startswith("(") and ") " in line:
            if line.split(") ", 1)[1].split(" ", 1)[0] == node:
                n += 1
    return n


class QueryWorkload:
    """A mix of registry queries; one pass runs each query once."""

    def __init__(self, mix: list[str]):
        self.mix = mix
        self.results: list[tuple[str, object]] = []

    def prepare(self, run: Run) -> None:
        pass

    def one_pass(self, run: Run) -> list[float]:
        lat = []
        for name in rotation(self.mix, run.seed):
            out = run_query(run, name)
            if out is not None:
                lat.append(out[0])
                self.results.append((name, out[1]))
                run.op_latency.setdefault(name, []).append(out[0])
        return lat

    def check(self, run: Run, expected: dict) -> None:
        """H-class results against DuckDB (once per query per run), P-class
        results against the values recorded in ``expected.json``."""
        from hadoop_copier_spark.queries import REGISTRY
        from hadoop_copier_spark.testing import canon_pdf, duck_connect, run_oracle_pd

        con = duck_connect(run.sf_dir)
        try:
            oracle_rows = {}
            for name in self.mix:
                q = REGISTRY[name]
                if q.oracle:
                    with run.tracer.span("testing.oracle", None, query=name):
                        oracle_rows[name] = canon_pdf(run_oracle_pd(q.oracle, run.sf_dir, con=con))
        finally:
            con.close()
        for name, res in self.results:
            if name in oracle_rows:
                problem = oracle_problem(res, oracle_rows[name])
            else:
                problem = recorded_problem(*res, expected.get(name))
            if problem:
                run.fail(f"{name}: {problem}")
                run.count("testing.mismatches")
        self.results.clear()


# ---------------------------------------------------------------------------
# copy_ingest
# ---------------------------------------------------------------------------


class CopyWorkload:
    """The reference's copy service: checksum-verified copies of a
    seed-generated tree through ``fs`` and ``copyjob``."""

    def __init__(self, classes: dict = COPY_CLASSES):
        self.classes = classes
        self.engine = None
        self.sources: dict[str, dict[str, int]] = {}  # class -> {rel: size}
        self.bytes_copied = 0
        self.submit_s = 0.0

    def prepare(self, run: Run) -> None:
        """Generate the source tree (part of set-up)."""
        from hadoop_copier_spark.copyjob import CopyJobEngine

        src_root = os.path.join(run.work_dir, "copy_src")
        shutil.rmtree(src_root, ignore_errors=True)
        rng = np.random.default_rng(run.seed)
        self.sources = {}
        for cls, (n_files, size) in self.classes.items():
            listing = {}
            for i in range(n_files):
                rel = f"d{i % 8}/f{i:05d}.bin" if n_files > 8 else f"f{i:05d}.bin"
                path = os.path.join(src_root, cls, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "wb") as f:
                    f.write(rng.bytes(size))
                listing[rel] = size
            self.sources[cls] = listing
        self.src_root = src_root
        self.engine = CopyJobEngine(run.spark, checksum_enabled=True, parallelism=run.nproc)

    def one_pass(self, run: Run) -> list[float]:
        lat = (self.copy_one(run, cls) for cls in rotation(COPY_ROUND, run.seed))
        return [x for x in lat if x is not None]

    def copy_one(self, run: Run, cls: str, engine=None):
        """One copy request; verifies and deletes its destination."""
        from hadoop_copier_spark.copyjob import CopyItem, CopyRequest
        from hadoop_copier_spark.fs import fs_for

        engine = engine or self.engine
        src = os.path.join(self.src_root, cls)
        listing = self.sources[cls]
        tr = run.tracer
        op = run.next_op()
        dst = os.path.join(run.work_dir, "copy_dst", f"op{op}")
        if tr.enabled:
            with tr.span("fs.walk", op):
                walked = fs_for(src).walk_files_with_size(src)
            run.count("fs.files_listed", len(walked))
            run.count("fs.walks")
            pids = process_tree()
            io0 = io_counters(pids)
            run.spark.sparkContext.setJobGroup(f"op-{op}", cls)
        t0 = time.perf_counter()
        try:
            with tr.span("copyjob.submit", op, cls=cls):
                rid = engine.submit(CopyRequest(namespace="bench", items=[CopyItem(src, dst)]))
                status = engine.status(rid)
            latency = time.perf_counter() - t0
        except Exception as e:
            run.fail(f"copy {cls}: {type(e).__name__}: {str(e)[:300]}")
            shutil.rmtree(dst, ignore_errors=True)
            return None
        finally:
            if tr.enabled:
                run.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        user_bytes = sum(listing.values())
        if tr.enabled:
            io1 = io_counters(process_tree())
            _, tasks, _ = job_group_counts(run.spark.sparkContext, f"op-{op}")
            run.count("copyjob.requests")
            run.count("copyjob.tasks", tasks)
            run.count("copyjob.user_bytes", user_bytes)
            run.count("copyjob.read_bytes", io1[0] - io0[0])
            run.count("copyjob.write_bytes", io1[1] - io0[1])
        ok = self.verify(run, cls, status, dst, listing)
        shutil.rmtree(dst, ignore_errors=True)
        if not ok:
            return None
        self.bytes_copied += user_bytes
        self.submit_s += latency
        run.op_latency.setdefault(cls, []).append(latency)
        return latency

    def verify(self, run: Run, cls: str, status: dict, dst: str, listing: dict) -> bool:
        items = status["items"]
        run.count("copyjob.items", len(items))
        run.count("copyjob.items_verified", sum(1 for i in items if i["checksumVerified"]))
        problem = copy_problem(status, dst, listing)
        if problem:
            run.fail(f"copy {cls}: {problem}")
        return problem is None

    def check(self, run: Run, expected: dict) -> None:
        if self.submit_s > 0:
            run.extra["copy_MBps"] = self.bytes_copied / MIB / self.submit_s


# ---------------------------------------------------------------------------
# stream_replay
# ---------------------------------------------------------------------------


class StreamWorkload:
    """File-replayed events through ``stream_tumbling_counts`` with one
    op per micro-batch; each pass is one complete AvailableNow stream."""

    def __init__(self, chunks: int = STREAM_CHUNKS):
        self.chunks = chunks
        self.queries: list[str] = []
        self.events = 0
        self.wall_s = 0.0

    def prepare(self, run: Run) -> None:
        from hadoop_copier_spark.streaming import replay_events_time_buckets

        self.replay_dir = os.path.join(run.work_dir, "replay")
        shutil.rmtree(self.replay_dir, ignore_errors=True)
        with run.tracer.span("streaming.replay"):
            replay_events_time_buckets(run.spark, run.sf_dir, self.replay_dir, n_chunks=self.chunks)

    def one_pass(self, run: Run) -> list[float]:
        from hadoop_copier_spark.streaming import stream_tumbling_counts

        name = f"bench_stream_{len(self.queries)}_{os.getpid()}"
        tr = run.tracer
        t0 = time.perf_counter()
        try:
            with tr.span("streaming.stream", None, query=name):
                q = stream_tumbling_counts(run.spark, self.replay_dir, name, available_now=True)
                q.awaitTermination()
            wall = time.perf_counter() - t0
            progress = q.recentProgress
        except Exception as e:
            run.next_op()
            run.fail(f"stream {name}: {type(e).__name__}: {str(e)[:300]}")
            return []
        self.queries.append(name)
        lat = []
        trig_sum = 0.0
        for p in progress:
            run.next_op()
            d = p["durationMs"]
            trig = d.get("triggerExecution", 0) / 1000.0
            lat.append(trig)
            trig_sum += trig
            self.events += p.get("numInputRows", 0)
            if tr.enabled:
                run.count("streaming.batches")
                run.count("streaming.events", p.get("numInputRows", 0))
                run.count("streaming.trigger_ms", d.get("triggerExecution", 0))
                run.count("streaming.addbatch_ms", d.get("addBatch", 0))
                run.count("streaming.commit_ms", d.get("commitOffsets", 0) + d.get("walCommit", 0))
                for so in p.get("stateOperators", []):
                    run.count("streaming.state_commit_ms", so.get("commitTimeMs", 0))
                    run.counts["streaming.state_rows"] = so.get("numRowsTotal", 0)
        self.wall_s += wall
        if tr.enabled:
            run.count("streaming.streams")
            run.count("streaming.sched_gap_ms", (wall - trig_sum) * 1000.0)
        return lat

    def check(self, run: Run, expected: dict) -> None:
        """Every stream's final memory table equals batch q61."""
        from hadoop_copier_spark.queries import REGISTRY
        from hadoop_copier_spark.testing import canon_pdf

        with run.tracer.span("testing.oracle", None, query="q61"):
            want = canon_pdf(REGISTRY["q61"].fn(run.spark, run.sf_dir).toPandas())
        for name in self.queries:
            problem = oracle_problem(run.spark.sql(f"SELECT * FROM {name}").toPandas(), want)
            if problem:
                run.fail(f"stream {name}: final table vs batch q61: {problem}")
                run.count("testing.mismatches")
        self.queries.clear()
        if self.wall_s > 0:
            run.extra["events_per_s"] = self.events / self.wall_s


WORKLOADS = {
    "sql_analytics": lambda: QueryWorkload(SQL_MIX),
    "llm_curation": lambda: QueryWorkload(LLM_MIX),
    "copy_ingest": CopyWorkload,
    "stream_replay": StreamWorkload,
}


# ---------------------------------------------------------------------------
# Layer probes (traced runs only)
# ---------------------------------------------------------------------------


def probe_layers(run: Run, expected: dict) -> None:
    """Call every layer the workload itself did not reach once, directly,
    so a traced run of any workload reports every per-layer metric."""
    from pyspark.sql import functions as F

    from hadoop_copier_spark import functions as text_fns
    from hadoop_copier_spark import operators as ops
    from hadoop_copier_spark.operators.dedup import lsh_candidate_pairs, minhash_signature, shingle_hashes
    from hadoop_copier_spark.operators.chunking import cdc_chunks
    from hadoop_copier_spark.sources.multimodal import image_phash, make_multimodal_rows
    from hadoop_copier_spark.tables import load_table

    tr = run.tracer
    spark = run.spark
    docs = load_table(spark, run.sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, run.sf_dir, "embeddings")
    queries_10 = emb.filter(F.col("vec_id") < 10)

    def op(name, build):
        with tr.span(f"operators.{name}"):
            return build().count()

    hashed = shingle_hashes(docs, "text").select("doc_id", "__shingle_hashes")
    op("minhash_signature", lambda: minhash_signature(hashed))
    cands = op("lsh_candidate_pairs", lambda: lsh_candidate_pairs(minhash_signature(hashed), "doc_id"))
    pairs = op("near_dup_pairs", lambda: ops.near_dup_pairs(docs, "doc_id", "text"))
    run.counts["operators.lsh_candidates"] = cands
    run.counts["operators.near_dup_pairs"] = pairs
    op("simhash64", lambda: ops.simhash64(docs, "doc_id", "text"))
    op(
        "dedup_clusters",
        lambda: ops.dedup_clusters(ops.near_dup_pairs(docs, "doc_id", "text"), nodes=docs.select("doc_id")),
    )
    op("cosine_topk", lambda: ops.cosine_topk(emb, queries_10, k=5))
    op("lsh_ann_topk", lambda: ops.lsh_ann_topk(emb, queries_10, k=5))
    op("ivf_ann_topk", lambda: ops.ivf_ann_topk(emb, queries_10, k=5))
    op("semantic_dedup", lambda: ops.semantic_dedup(emb, "vec_id", "embedding"))
    op("cdc_chunks", lambda: cdc_chunks(docs, "text", "doc_id"))
    with tr.span("functions.text"):
        docs.select(
            text_fns.whitespace_token_count(F.col("text")),
            text_fns.bpe_ish_token_count(F.col("text")),
            text_fns.lang_id_guess(F.col("text")),
            text_fns.quality_score(F.col("text")),
            text_fns.doc_fingerprint(F.col("text")),
        ).count()
    with tr.span("sources.image_phash"):
        image_phash(make_multimodal_rows(spark, run.sf_dir)).count()

    touched = {s.attrs.get("module") for s in tr.by_name("queries.exec")}
    for module, name in MODULE_PROBES.items():
        if module not in touched:
            probe = QueryWorkload([name])
            probe.one_pass(run)
            probe.check(run, expected)

    if not tr.by_name("copyjob.submit"):
        _probe_copy(run)
    if not tr.by_name("streaming.stream"):
        stream = StreamWorkload(chunks=3)
        stream.prepare(run)
        stream.one_pass(run)
        stream.check(run, expected)


def _probe_copy(run: Run) -> None:
    """One request of each copy class on a small tree; the split class
    uses a lowered split threshold so its byte-range path runs."""
    from hadoop_copier_spark.copyjob import CopyJobEngine

    cw = CopyWorkload(PROBE_COPY_CLASSES)
    cw.prepare(run)
    for cls in ("small", "medium"):
        cw.copy_one(run, cls)
    split_engine = CopyJobEngine(
        run.spark, checksum_enabled=True, parallelism=run.nproc,
        split_threshold_bytes=4 * MIB, split_chunk_bytes=2 * MIB,
    )
    cw.copy_one(run, "split", engine=split_engine)

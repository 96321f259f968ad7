"""The benchmark's workloads. Each takes a ``Context`` and returns a
``Result``; ``run.py`` turns that into the one-line JSON report.

An operation is one event (``events_countwin_open``), one document
(``docs_index_ingest``) or one query execution (``headline_sf01``).
Every workload reports the same end-to-end metrics:

- ``setup_s``: session start plus the program-side set-up before the
  first measured operation (pipeline compile and stream start, index
  build and staging plus one untimed rep, or the checked warm-up
  passes).
  Writing the benchmark's own input files is not part of it.
- ``latency_p50_ms`` / ``latency_p95_ms``: per operation, from the
  moment it was due (event creation; start of the ingest rep; start of
  the query call) until its result exists (end of the micro-batch that
  consumed it; end of the ``count()``). To keep one stall from moving
  a run's figure, each is the median over parts of the run: over four
  sub-windows of the event stream, over ingest reps, or, for queries,
  taken over each query's median across passes.
- ``ops_per_s``: operations completed per second of measured time. On
  the open-loop ``events_countwin_open`` this is the offered rate (10k/s)
  as long as the engine keeps up; it falls only when a backlog builds,
  so it shows lost capacity, not gained capacity.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import streamlog
from tracing import Tracer, make_progress_listener, median, peak_rss_mb, percentile, trigger_metrics

#: The package's sf0.1 test tables, copied byte for byte (checksums in
#: ``SHA256SUMS``) so the benchmark reads only its own files. They do not
#: change with ``--seed``, which drives slicing and query order, so their
#: oracle answers are cached in the work directory.
SF01_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


@dataclass
class Result:
    attempted: int
    failed: int
    correct: bool
    e2e: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


class Context:
    """Per-run state: paths, the seeded RNG, the tracer and the Spark
    session (started by ``start_session``, stopped by ``close``)."""

    def __init__(self, root: str, work: str, run_dir: str, seed: int, seconds: float, trace: bool):
        self.root = root
        self.work = work
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(run_id=f"{os.getpid()}-{seed}", enabled=trace)
        self.spark = None
        self.procs: list[subprocess.Popen] = []
        # set by the workload: which event-log bucket a job group or
        # timestamp falls in, and how many passes the totals cover
        self.bucket = lambda gid, t_ms: None
        self.passes = 1

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def start_session(self) -> float:
        t0 = time.time()
        with self.tracer.span("session.get_spark"):
            from stream_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        return time.time() - t0

    def peak_rss_mb(self) -> float:
        """Peak RSS in MiB of the driver JVM plus this process."""
        jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return peak_rss_mb(jvm_pid) + peak_rss_mb(os.getpid())

    def close(self) -> None:
        for p in self.procs:
            if p.poll() is None:
                p.terminate()
            p.wait(timeout=30)
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
            # the JVM exits when its stdin closes; wait for it here rather
            # than leave it to outlive this process
            gateway = SparkContext._gateway
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None


def _dir_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _dir_files(path))


# --------------------------------------------------------------------------
# events_countwin_open


RATE = 10_000  # offered events per second
TICK_MS = 100  # one input file per tick
WARMUP_S = 6.0  # emitted before the measured window; not timed
LIMIT_MS = 10_000  # an event not emitted within this counts as failed
WINDOW = 10  # count-window size
SUB_WINDOWS = 4  # latency percentiles are medians over these


def events_countwin_open(ctx: Context) -> Result:
    """Open loop: a separate emitter process writes one parquet file per
    100 ms tick at 10k events/s. The pipeline DSL maps and filters the
    live file stream and a per-user count-tumbling window sums each
    user's values in groups of ten."""
    from emitter import SPARK_SCHEMA

    from stream_spark.pipeline import Pipeline
    from stream_spark.streaming import streaming_tumbling_count

    tr = ctx.tracer
    session_s = ctx.start_session()
    spark = ctx.spark
    t_setup = time.time()
    stage, ckpt = ctx.path("events_in"), ctx.path("events_ckpt")
    os.makedirs(stage)
    t0 = time.perf_counter()
    with tr.span("pipeline.run_on"):
        stream = spark.readStream.schema(SPARK_SCHEMA).parquet(stage)
        # streaming_tumbling_count declares its key column as string, so a
        # long key fails in Arrow: the map stage casts user_id first.
        pipe = Pipeline.from_dict(
            {
                "name": "events_countwin",
                "source": {"table": "events"},
                "stages": [
                    {"type": "map", "settings": {"exprs": {"user_id": "CAST(user_id AS STRING)"}}},
                    {"type": "filter", "settings": {"type": "non-zero", "column": "value"}},
                ],
            }
        )
        filtered = pipe.run_on(stream, spark)
    with tr.span("streaming.jobs.streaming_tumbling_count"):
        windows = streaming_tumbling_count(filtered, "user_id", "value", "sum", WINDOW)
    compile_ms = (time.perf_counter() - t0) * 1000.0
    listener = make_progress_listener()
    spark.streams.addListener(listener)
    with tr.span("stream.start"):
        q = (
            windows.writeStream.format("memory")
            .queryName("events_windows")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
    setup_s = session_s + (time.time() - t_setup)

    start = time.time() + 1.0
    total_s = WARMUP_S + ctx.seconds
    summary = ctx.path("emitter.json")
    with tr.span("emitter.run"):
        proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(os.path.dirname(os.path.abspath(__file__)), "emitter.py"),
                "--dir", stage, "--rate", str(RATE), "--tick-ms", str(TICK_MS),
                "--start", repr(start), "--seconds", str(total_s),
                "--seed", str(ctx.seed), "--summary", summary,
            ]
        )
        ctx.procs.append(proc)
        if proc.wait(timeout=total_s + 60) != 0:
            raise RuntimeError(f"emitter exited with {proc.returncode}")
    source_dir = os.path.join(ckpt, "sources", "0")
    files = sorted(os.path.basename(f) for f in glob.glob(os.path.join(stage, "ev-*.parquet")))
    backlog_end = len(files) - len(streamlog.read_source_log(source_dir))
    with tr.span("stream.drain"):
        streamlog.wait_drained(source_dir, files[-1], lambda: listener.for_query(q.id), 120)
    q.stop()
    progress = listener.for_query(q.id)

    import pyarrow.parquet as pq

    with open(summary) as fh:
        emitted = json.load(fh)
    file_offset = streamlog.read_source_log(source_dir)
    offset_end = streamlog.offset_end_ms(progress)
    win_lo, win_hi = (start + WARMUP_S) * 1000.0, (start + total_s) * 1000.0
    first_measured = int(WARMUP_S * 1000 // TICK_MS)
    parts: list[list[np.ndarray]] = [[] for _ in range(SUB_WINDOWS)]
    attempted = failed = 0
    last_end = win_lo
    expected: dict[str, int] = {}
    for k, name in enumerate(files):
        t = pq.read_table(os.path.join(stage, name), columns=["user_id", "value", "created_ms"])
        kept = t.filter(np.asarray(t["value"]) != 0)
        for uid, n in zip(*np.unique(np.asarray(kept["user_id"]), return_counts=True)):
            expected[str(uid)] = expected.get(str(uid), 0) + int(n)
        if k < first_measured:
            continue
        created = np.asarray(t["created_ms"], dtype=np.float64)
        attempted += len(created)
        end = offset_end.get(file_offset.get(name, -1))
        if end is None:
            failed += len(created)
            continue
        lat = end - created
        failed += int((lat > LIMIT_MS).sum())
        parts[(k - first_measured) * SUB_WINDOWS // (len(files) - first_measured)].append(lat)
        last_end = max(last_end, end)
    part_lat = [np.concatenate(p) for p in parts if p]
    got = {r["user_id"]: r["n"] for r in spark.sql("SELECT user_id, count(*) AS n FROM events_windows GROUP BY user_id").collect()}
    want = {k: v // WINDOW for k, v in expected.items() if v >= WINDOW}
    correct = got == want
    if not correct:
        bad = sorted(set(got.items()) ^ set(want.items()))[:5]
        print(f"# events_countwin_open: window counts differ from floor(kept/{WINDOW}): {bad}", file=sys.stderr)

    in_window = [p for p in progress if win_lo <= streamlog.progress_end_ms(p) <= win_hi]
    late = emitted["late_ms"][first_measured:]
    layers = {
        "session.start_s": session_s,
        "pipeline.compile_ms": compile_ms,
        **trigger_metrics(in_window),
        "sink.rows_out": float(sum(p.get("sink", {}).get("numOutputRows", 0) for p in in_window)),
        "generator.late_ms_max": float(max(late)),
        "source.backlog_files_end": float(backlog_end),
    }
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": median([percentile(p, 50) for p in part_lat]),
        "latency_p95_ms": median([percentile(p, 95) for p in part_lat]),
        "ops_per_s": attempted / max(last_end - win_lo, 1.0) * 1000.0,
    }
    detail = {
        "latency_p50_ms_by_sub_window": [percentile(p, 50) for p in part_lat],
        "offered_per_s": RATE,
        "events_total": emitted["events"],
        "windows_emitted": sum(got.values()),
    }
    ctx.bucket = lambda gid, t_ms: "window" if win_lo <= t_ms <= win_hi else None
    return Result(attempted, failed, correct, e2e, layers, detail)


# --------------------------------------------------------------------------
# docs_index_ingest

N_SLICES = 6
REP_S = 5.0  # about one ingest rep on a 4-core host
REPLICAS = 10  # sf0.1 -> sf1, as tools/make_sf1.py derives it
DOC_STRIDE = 100_000


def sf1_documents(src: str) -> pa.Table:
    """The sf1 documents table the way ``tools/make_sf1.py`` derives it
    from sf0.1: ten replicas with ``doc_id`` offset by 100k per replica;
    replica k > 0 appends the token ``rep<k>`` to each text, so every
    document has nine near-duplicates."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = pq.read_table(src)
    parts = []
    for k in range(REPLICAS):
        t = base.set_column(base.schema.get_field_index("doc_id"), "doc_id", pc.add(base["doc_id"], k * DOC_STRIDE))
        if k > 0:
            text = pc.binary_join_element_wise(t["text"], pa.scalar(f"rep{k}"), " ")
            t = t.set_column(t.schema.get_field_index("text"), "text", text)
            t = t.set_column(t.schema.get_field_index("n_chars"), "n_chars", pc.utf8_length(text).cast(pa.int64()))
        parts.append(t)
    return pa.concat_tables(parts)


def _docs_dataset(ctx: Context) -> tuple[str, dict[int, int]]:
    """The sf1 documents table and the DuckDB oracle's flags for it
    (``streaming_dedup_index_maintain``), both cached in the work
    directory."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stream_spark.queries import ORACLES

    d = os.path.join(ctx.work, "data", "docs-sf1")
    oracle = os.path.join(d, "oracle_flags.parquet")
    if not os.path.exists(oracle):
        os.makedirs(d, exist_ok=True)
        pq.write_table(sf1_documents(os.path.join(SF01_DIR, "documents.parquet")), os.path.join(d, "documents.parquet"))
        con = duckdb.connect()
        con.execute("SET enable_progress_bar=false")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
        flags = con.execute(ORACLES["streaming_dedup_index_maintain"]).arrow()
        pq.write_table(pa.table(flags), oracle + ".tmp")
        os.replace(oracle + ".tmp", oracle)
    t = pq.read_table(oracle)
    return d, dict(zip(t["doc_id"].to_pylist(), t["is_dup"].to_pylist()))


def docs_index_ingest(ctx: Context) -> Result:
    """Closed loop: 12.5k live documents replay in id order through the
    Arrow MinHash band builder into ``streaming_index_maintain``, which
    probes and appends to an on-disk index seeded from the other 37.5k
    documents. Every rep restarts from the same stored index."""
    from pyspark.sql import functions as F

    from stream_spark.operators.dedup import minhash_band_buckets, minhash_band_rows_arrow
    from stream_spark.sources import load_table
    from stream_spark.streaming import ordered_replay_stream
    from stream_spark.streaming.dedup import streaming_index_maintain

    tr = ctx.tracer
    t_data = time.time()
    data_dir, want = _docs_dataset(ctx)
    derive_s = time.time() - t_data
    session_s = ctx.start_session()
    spark = ctx.spark
    t_setup = time.time()
    docs = load_table(spark, data_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    live = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    idx_base = ctx.path("index_base")
    t0 = time.time()
    with tr.span("operators.dedup.index_build"):
        minhash_band_buckets(corpus).select("band", "bucket").distinct().write.parquet(idx_base)
    index_build_s = time.time() - t0
    base_rows = _parquet_rows(idx_base)
    # The seed reshuffles the input the range partitioner samples, which
    # moves the slice boundaries; the slice count stays fixed because the
    # per-trigger cost would otherwise make docs/s vary with the seed.
    shuffled = live.repartition(int(ctx.rng.integers(2, 9)), F.rand(ctx.seed))
    t0 = time.time()
    with tr.span("streaming.sources.ordered_replay_stream"):
        stream = ordered_replay_stream(spark, shuffled, ctx.path("live"), ["doc_id"], n_slices=N_SLICES)
    stage_s = time.time() - t0
    listener = make_progress_listener()
    spark.streams.addListener(listener)
    n_live = len(want)

    def rep(i: int) -> dict:
        idx, out = ctx.path(f"index_{i}"), ctx.path(f"flags_{i}")
        shutil.copytree(idx_base, idx)
        seen = len(listener.progress)
        t_start = time.time()
        with tr.span("streaming.dedup.streaming_index_maintain", rep=i):
            # parallelism=0 hashes inside the scan stage, as the registered
            # streaming_dedup_index_maintain query does at this volume
            streaming_index_maintain(minhash_band_rows_arrow(stream, parallelism=0), idx, out)
        wall = time.time() - t_start
        deadline = time.time() + 10
        while sum(p["numInputRows"] for p in listener.progress[seen:]) < n_live and time.time() < deadline:
            time.sleep(0.02)
        prog = listener.progress[seen:]
        flags = spark.read.parquet(out).toPandas()
        got = dict(zip(flags["doc"].tolist(), flags["is_dup"].tolist()))
        ok = len(flags) == len(got) == n_live and got == want
        new_idx = [f for f in _dir_files(idx) if not os.path.exists(f.replace(idx, idx_base, 1))]
        return {
            "wall": wall,
            "start_ms": t_start * 1000.0,
            "progress": prog,
            "ok": ok,
            "wrong": sum(got.get(d) != v for d, v in want.items()),  # missing or wrong flag
            "sink.rows_out": float(len(flags)),
            "sink.bytes_written": float(sum(os.path.getsize(f) for f in _dir_files(out) + new_idx)),
            "sink.files_written": float(len(_dir_files(out)) + len(new_idx)),
            "index.rows_end": float(_parquet_rows(idx)),
            "run_ids": {p["runId"] for p in prog},
        }

    warm = rep(0)
    setup_s = session_s + (time.time() - t_setup)
    # a fixed rep count, as in headline_sf01, so every run measures the
    # same reps of the JIT warm-up
    reps = [rep(i) for i in range(1, 1 + max(1, round(ctx.seconds / REP_S)))]

    correct = warm["ok"] and all(r["ok"] for r in reps)
    if not correct:
        print(f"# docs_index_ingest: flags differ from the oracle: {[r['wrong'] for r in [warm] + reps]}", file=sys.stderr)
    lat = [[streamlog.progress_end_ms(p) - r["start_ms"] for p in r["progress"] for _ in range(int(p["numInputRows"]))] for r in reps]
    attempted = n_live * len(reps)
    failed = sum(r["wrong"] for r in reps)
    progress = [p for r in reps for p in r["progress"]]
    layers = {
        "session.start_s": session_s,
        "data.derive_s": derive_s,
        "operators.dedup.index_build_s": index_build_s,
        "streaming.sources.stage_s": stage_s,
        **trigger_metrics(progress),
        **{k: median([r[k] for r in reps]) for k in ("sink.rows_out", "sink.bytes_written", "sink.files_written")},
        "index.rows_end": median([r["index.rows_end"] for r in reps]),
    }
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": median([percentile(x, 50) for x in lat]),
        "latency_p95_ms": median([percentile(x, 95) for x in lat]),
        "ops_per_s": median([n_live / r["wall"] for r in reps]),
    }
    runs = set().union(*(r["run_ids"] for r in reps))
    ctx.bucket = lambda gid, t_ms: "rep" if gid in runs else None
    ctx.passes = len(reps)
    detail = {"rep_s": [r["wall"] for r in reps], "index_rows_base": base_rows, "live_docs": n_live, "dup_docs": sum(want.values())}
    return Result(attempted, failed, correct, e2e, layers, detail)


# --------------------------------------------------------------------------
# headline_sf01

PASS_S = 5.0  # about one headline pass on a 4-core host
WARM_PASSES = 3

#: The frozen 16-query sf0.1 headline set, in the order bench.py runs it.
HEADLINERS = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "agg_time_tumbling_sum",
    "agg_tumbling_count_sum",
    "agg_sliding_count_avg",
    "events_sessionize",
    "pipeline_agg_filter",
    "stream_join_time",
    "tpch_q6_revenue_delta",
    "events_asof_join_purchase_click",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality_score",
    "ann_topk_bruteforce",
]


def _headline_oracles(ctx: Context) -> dict:
    """The DuckDB oracle answer of every headline query on the sf0.1
    tables, computed once and cached (pickled, so the dtypes the checker
    compares stay as DuckDB returned them) in the work directory."""
    import pandas as pd

    from stream_spark.queries import ORACLES

    d = os.path.join(ctx.work, "data", "oracle-sf0.1")
    os.makedirs(d, exist_ok=True)
    out, con = {}, None
    for name in HEADLINERS:
        path = os.path.join(d, f"{name}.pkl")
        if not os.path.exists(path):
            if con is None:
                import duckdb

                con = duckdb.connect()
                con.execute("SET enable_progress_bar=false")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF01_DIR}/{t}.parquet'")
            con.execute(ORACLES[name]).fetchdf().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        out[name] = pd.read_pickle(path)
    return out


def headline_sf01(ctx: Context) -> Result:
    """Closed loop, one client: passes over the 16 headline queries at
    sf0.1, each query timed as construct + count, in a seeded order per
    pass. The first pass is untimed and checks every result against its
    DuckDB oracle; three untimed count passes finish the warm-up. Every
    timed count must equal the oracle's row count."""
    from stream_spark.queries import QUERIES

    sys.path.insert(0, os.path.join(ctx.root, "tools"))
    from check_oracle import compare

    tr = ctx.tracer
    t_data = time.time()
    oracles = _headline_oracles(ctx)
    derive_s = time.time() - t_data
    data_dir = SF01_DIR

    session_s = ctx.start_session()
    spark = ctx.spark
    sc = spark.sparkContext
    t_setup = time.time()
    failed_names = []
    check_s = 0.0  # time spent comparing with the oracle; not set-up
    with tr.span("queries.warmup"):
        for name in ctx.rng.permutation(HEADLINERS):
            with tr.span("queries.check", query=name):
                got = QUERIES[name](spark, data_dir).toPandas()
                t0 = time.time()
                problems = compare(name, got, oracles[name])
                check_s += time.time() - t0
            if problems:
                failed_names.append(name)
                print(f"# headline_sf01: {name}: {problems}", file=sys.stderr)
        # count passes keep getting faster as the JIT compiles; with one
        # untimed pass, runs differed by 10-16% (IQR over median) on a
        # 4-core host, with three by 2-6%
        for _ in range(WARM_PASSES):
            for name in ctx.rng.permutation(HEADLINERS):
                QUERIES[name](spark, data_dir).count()
    warmup_s = time.time() - t_setup - check_s
    setup_s = session_s + warmup_s
    want_rows = {name: len(o) for name, o in oracles.items()}

    per_query: dict[str, list[tuple[float, float]]] = {n: [] for n in HEADLINERS}
    pass_s: list[float] = []
    failed = 0
    # A fixed pass count, not a deadline: pass times still fall from pass
    # to pass as the JIT warms, so a run that fits one more pass would
    # report a faster regime.
    for p in range(max(1, round(ctx.seconds / PASS_S))):
        sc._jvm.System.gc()
        t_pass = time.time()
        for name in ctx.rng.permutation(HEADLINERS):
            if ctx.trace:
                sc.setJobGroup(f"t{p}:{name}", name)
            try:
                t0 = time.time()
                with tr.span("queries.construct", query=name, rep=p):
                    df = QUERIES[name](spark, data_dir)
                t1 = time.time()
                with tr.span("queries.count", query=name, rep=p):
                    n = df.count()
                per_query[name].append((t1 - t0, time.time() - t1))
                if n != want_rows[name]:
                    failed += 1
                    print(f"# headline_sf01: {name} counted {n} rows, oracle has {want_rows[name]}", file=sys.stderr)
            except Exception as e:  # noqa: BLE001 — a failed query is a failed operation
                failed += 1
                print(f"# headline_sf01: {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
        pass_s.append(time.time() - t_pass)
    if ctx.trace:
        sc.setLocalProperty("spark.jobGroup.id", None)

    lat = [median([(c + x) * 1000.0 for c, x in v]) for v in per_query.values() if v]
    n_pass = len(pass_s)
    layers = {
        "session.start_s": session_s,
        "data.derive_s": derive_s,
        "queries.warmup_s": warmup_s,
        "queries.construct_s": sum(c for v in per_query.values() for c, _ in v) / n_pass,
        "queries.execute_s": sum(x for v in per_query.values() for _, x in v) / n_pass,
    }
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": percentile(lat, 50),
        "latency_p95_ms": percentile(lat, 95),
        "ops_per_s": len(HEADLINERS) / median(pass_s),
    }
    ctx.bucket = lambda gid, t_ms: gid.split(":", 1)[1] if gid and gid.startswith("t") else None
    ctx.passes = n_pass
    detail = {
        "passes": n_pass,
        "pass_s": pass_s,
        "oracle_check_s": check_s,
        "per_query": {n: {"construct_s": median([c for c, _ in v]), "execute_s": median([x for _, x in v])} for n, v in per_query.items() if v},
    }
    return Result(n_pass * len(HEADLINERS), failed, not failed_names, e2e, layers, detail)


#: Extra driver JVM options per workload. The headline queries' compiled
#: code keeps getting faster for about a minute of passes; JIT thresholds
#: at a tenth of the default let it settle within the warm-up. The
#: streaming workloads settle without it and run slower with it, because
#: the extra compiles then compete with the stream for CPU.
JVM_OPTIONS = {"headline_sf01": "-XX:CompileThresholdScaling=0.1"}

WORKLOADS = {
    "events_countwin_open": events_countwin_open,
    "docs_index_ingest": docs_index_ingest,
    "headline_sf01": headline_sf01,
}

"""Benchmark of the indexer_spark engine through its public Python API.

    python3 perfbench/run.py --workload serve_cold --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One closed-loop client thread drives
the engine in-process: it waits for each reply before it sends the next
request. Spark runs at local[min(4, nproc)] in this process's own JVM.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--workload all`` runs every workload once, each in its own process,
and prints a table. See perfbench/README.md for what each workload and
metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus as gen_mod  # noqa: E402
import stats as st  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

clock = time.perf_counter
NPROC = len(os.sched_getaffinity(0))
CORES = min(4, NPROC)
K = 10
BYTES_PER_POSTING = 16  # a decoded BM25 LRU entry: int64 doc id + float64 norm

WORKLOADS = ("serve_cold", "ingest")

# Query terms are drawn from Zipf rank ranges of the vocabulary (rank 0 is
# the most frequent word). serve_cold: mid and tail terms, uniform over
# the pool, LRU capped at a quarter of the pool's decoded working set, so
# misses and evictions are steady.
SERVE = dict(turns=20_000, ranks=(20, 1000), words=(2, 4), pool=250,
             cap_share=0.25)
INGEST = dict(turns=20_000, append_turns=4_000, update_turns=800,
              probe_ranks=(10, 2000), probes=24)
# run in traced runs on a fast_path_bytes=0 reader after the timed phase
# of every workload: the distributed route's layers, and its oracle
# identity
DIST_PROBES = (((10, 400), 3, "pruned"), ((10, 40), 2, "and"))  # ranks, words, mode

END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "index_turns_per_s": "1/s",
    "index_bytes_per_word": "B/word",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_workers_s": "s",
    "build.ids_s": "s",
    "build.postings_s": "s",
    "build.term_stats_s": "s",
    "build.commit_s": "s",
    "build.spark_jobs": "count",
    "build.bytes_written": "B",
    "build.timed_share": "share",
    "query.op_ms": "ms",
    "query.reader_open_ms": "ms",
    "lexer.tokenize_ms": "ms",
    "query.global_dfs_ms": "ms",
    "query.read_ms": "ms",
    "query.read_bytes": "B/op",
    "compress.decode_ms": "ms",
    "compress.postings_decoded": "1/op",
    "query.score_ms": "ms",
    "query.resolve_ms": "ms",
    "query.other_ms": "ms",
    "query.route.cache": "share",
    "query.route.hybrid": "share",
    "query.route.driver": "share",
    "query.route.dist": "share",
    "query.cache.hit_ratio": "share",
    "query.cache.hit_ratio_drift": "share",
    "query.cache.evictions": "1/op",
    "query.cache.bytes": "B",
    "query.cache.cap_bytes": "B",
    "query.dist.jobs": "1/op",
    "query.dist.tasks": "1/op",
    "query.dist.plan_ms": "ms",
    "query.dist.collect_ms": "ms",
    "trace.overhead_pct": "%",
}

ROUTES = ("cache", "hybrid", "driver", "dist")
WRITE_SPANS = ("build.build", "build.append", "build.update")
STAGE_SPANS = {"build.ids": "build.ids_s", "build.postings": "build.postings_s",
               "build.term_stats": "build.term_stats_s"}
# per-op self time of these spans, summed over a query op's tree
OP_LAYERS = {
    "lexer.tokenize": "lexer.tokenize_ms",
    "query.global_dfs": "query.global_dfs_ms",
    "query.read": "query.read_ms",
    "compress.decode": "compress.decode_ms",
    "query.search": "query.score_ms",
    "query.route.cache": "query.score_ms",
    "query.route.hybrid": "query.score_ms",
    "query.route.driver": "query.score_ms",
    "query.resolve": "query.resolve_ms",
}


class Op:
    __slots__ = ("kind", "query", "mode", "begin", "end", "rows", "error",
                 "traced", "version", "trace_id")

    def __init__(self, kind, query=None, mode=None, version=0):
        self.kind, self.query, self.mode, self.version = kind, query, mode, version
        self.begin = self.end = None
        self.rows = self.error = None
        self.traced = False
        self.trace_id = None

    @property
    def ms(self) -> float:
        return (self.end - self.begin) * 1e3


# --------------------------------------------------------------------------
# instrumentation: the per-layer wrappers, installed only in traced ops


def instrument(tracer: Tracer, mods, ships_scorers: bool = False) -> None:
    """Wrap every layer boundary. ``ships_scorers``: the op runs Spark
    scoring jobs, whose closures capture ``query.decode_postings`` and
    would carry its wrapper to the workers, so it stays unwrapped (its
    worker-side calls are not visible from here anyway)."""
    session, build, query = mods["session"], mods["build"], mods["query"]
    w = tracer.wrap
    w(session, "get_spark", "session.start")
    w(session, "warm_workers", "session.warm_workers")
    for attr, name in (("_stage_ids", "build.ids"),
                       ("_stage_postings", "build.postings"),
                       ("_stage_term_stats", "build.term_stats"),
                       ("build_index", "build.build"),
                       ("append_index", "build.append"),
                       ("update_index", "build.update")):
        w(build, attr, name)
    w(query, "tokenize", "lexer.tokenize")
    if not ships_scorers:
        w(query, "decode_postings", "compress.decode",
          after=lambda _c, out: tracer.count("postings_decoded", len(out[0])))
    R = query.IndexReader
    w(R, "__init__", "query.reader_open")
    w(R, "search", "query.search")
    w(R, "global_dfs", "query.global_dfs")
    for attr, route in (("_fast_from_cache", "cache"),
                        ("_fast_hybrid", "hybrid"),
                        ("_fast_scored", "driver"),
                        ("search_df", "dist")):
        w(R, attr, "query.dist.plan" if route == "dist" else f"query.route.{route}",
          after=lambda _c, out, r=route: (
              tracer.count(f"route.{r}") if out is not None else None))
    w(R, "_post_table", "query.read",
      after=lambda _c, out: tracer.count("read_bytes", out.nbytes))
    w(R, "resolve_local", "query.resolve")
    cache = query._DECODED_CACHE

    def got(_c, out):
        tracer.count("cache.gets")
        if out is not None:
            tracer.count("cache.hits")

    def put_before(args, _kw):
        return len(cache._d), args[0] in cache._d

    def put_after(ctx, _out):
        n0, present = ctx
        tracer.count("cache.evictions", n0 + (0 if present else 1) - len(cache._d))

    w(cache, "get", after=got)
    w(cache, "put", before=put_before, after=put_after)


class Run:
    """One benchmark process: its Spark session, work dir, ops and trace."""

    def __init__(self, args, mods):
        self.args = args
        self.mods = mods
        self.tracer = Tracer() if args.trace else None
        self.work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.spark = None
        self.ops: list[Op] = []
        self.writes: list[tuple[str, int, float]] = []  # (kind, turns, s)
        self.jobs: dict[int, tuple[int, int]] = {}  # trace_id -> (jobs, tasks)
        self.extra: dict = {}
        self._next_trace = 0

    # -- session ----------------------------------------------------------

    def start_spark(self):
        tmp = os.path.join(self.work, "tmp")
        self.spark = self.mods["session"].get_spark(
            cores=CORES, shuffle_partitions=CORES, driver_memory="2g",
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # keep the JVM's scratch files inside the checkout
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        return self.spark

    def _job_ids(self) -> set:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup())

    def _job_cost(self, before: set) -> tuple[int, int]:
        tr = self.spark.sparkContext.statusTracker()
        new = self._job_ids() - before
        tasks = 0
        for j in new:
            info = tr.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = tr.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(new), tasks

    # -- ops ----------------------------------------------------------------

    @contextlib.contextmanager
    def op(self, op: Op, traced: bool, count_jobs: bool = False):
        """Time one op; when ``traced``, wrap the engine for its duration
        and, with ``count_jobs``, record its Spark jobs (outside the
        timed interval)."""
        tr = self.tracer if traced else None
        before = self._job_ids() if tr and count_jobs else None
        if tr:
            # an op inside a traced op (a build inside set-up) reuses the
            # wrappers already installed
            nested = tr.installed
            if not nested:
                instrument(tr, self.mods, ships_scorers=count_jobs)
            op.traced, op.trace_id = True, self._next_trace
            self._next_trace += 1
            outer, tr.op = tr.op, op.trace_id
            sid = tr.open("op")
        op.begin = clock()
        try:
            yield op
        except Exception as e:
            op.error = f"{type(e).__name__}: {e}"
            if op.kind not in ("query", "dist"):
                raise  # set-up and writes must succeed for the run to mean anything
            # a query that raised counts as failed
        finally:
            op.end = clock()
            if tr:
                tr.close(sid)
                tr.op = outer
                if not nested:
                    tr.restore()
        if before is not None:
            self.jobs[op.trace_id] = self._job_cost(before)
        self.ops.append(op)

    def search_op(self, reader, op: Op, traced: bool, count_jobs=False):
        with self.op(op, traced, count_jobs):
            op.rows = _rows(reader.resolve_local(
                reader.search(op.query, K, mode=op.mode)))

    def write(self, kind: str, fn, turns: int):
        """Time one index mutation (always traced in a traced run)."""
        op = Op(kind)
        with self.op(op, self.tracer is not None, count_jobs=True):
            fn()
        self.writes.append((kind, turns, op.end - op.begin))

    def setup_trace(self):
        """Trace set-up work (session start, build) as one op."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.op(Op("setup"), True)

    def dist_probes(self, g: gen_mod.Generator, index_dir: str, version: int):
        query = self.mods["query"]
        reader = query.IndexReader(self.spark, index_dir, fast_path_bytes=0)
        try:
            for ranks, words, mode in DIST_PROBES:
                q = _query_with_words(g, ranks, words)
                self.search_op(reader, Op("dist", q, mode, version),
                               self.tracer is not None, count_jobs=True)
        finally:
            reader.close()

    # -- teardown -----------------------------------------------------------

    def stop(self):
        """Stop Spark, its JVM and every process this run started, and
        wait until each has ended."""
        kids = _descendants(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                with contextlib.suppress(Exception):
                    gw.shutdown()
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    with contextlib.suppress(Exception):
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        _wait_gone(kids, timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)


def _rows(resolved) -> list[tuple]:
    return [(r["conv_id"], int(r["turn_idx"]), float(r["score"])) for r in resolved]


def _query_with_words(g, ranks, words) -> str:
    lo, hi = ranks
    idx = g.rng.choice(range(lo, hi), size=words, replace=False)
    return " ".join(g.vocab[idx])


def _descendants(pid: int) -> set[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = set(), [pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in out:
                out.add(c)
                frontier.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids: set[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while True:
        left = {p for p in pids if _alive(p)}
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 10
            pids = left
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        time.sleep(0.05)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _words(texts) -> int:
    return sum(len(t.split()) for t in texts)


def _write_parquet(pdf, path: str) -> str:
    pdf.to_parquet(path, index=False)
    return path


def _peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# --------------------------------------------------------------------------
# workloads


def run_serve(run: Run) -> dict:
    cfg = SERVE
    mods, args = run.mods, run.args
    build, query, session = mods["build"], mods["query"], mods["session"]
    g = gen_mod.Generator(args.seed)
    base = g.turns(cfg["turns"])
    pool = g.queries(cfg["ranks"], cfg["pool"], cfg["words"])
    stream = g.stream(len(pool), 200_000)
    src = _write_parquet(base, os.path.join(run.work, "base.parquet"))
    idx = os.path.join(run.work, "index")

    t0 = clock()
    with run.setup_trace():
        spark = run.start_spark()
        # the workers' one-time warm-up is set-up, not build throughput
        session.warm_workers(spark)
        run.write("build", lambda: build.build_index(
            spark, spark.read.parquet(src), idx), len(base))
        reader = query.IndexReader(spark, idx)
    cap0 = query._DECODED_CACHE.max_bytes
    x0 = clock()
    ws = BYTES_PER_POSTING * _pool_postings(idx, pool, mods)
    query._DECODED_CACHE.max_bytes = int(ws * cfg["cap_share"])
    run.extra.update(working_set_bytes=ws,
                     cache_cap_bytes=query._DECODED_CACHE.max_bytes)
    excluded = clock() - x0
    # every pool query once: the reader has then seen every term, the
    # capped LRU is full and the hit ratio no longer drifts
    for q in pool:
        reader.resolve_local(reader.search(q, K))
    setup_s = clock() - t0 - excluded

    start = clock()
    deadline = start + args.seconds
    n = 0
    while clock() < deadline or n <= st.TAIL_BEYOND:  # enough for a tail
        op = Op("query", pool[stream[n % len(stream)]], "pruned")
        run.search_op(reader, op, run.tracer is not None and n % 2 == 0)
        n += 1
    stop = clock()
    rss = _peak_rss_mb()
    run.extra["cache_bytes"] = query._DECODED_CACHE._bytes
    run.extra["cache_cap"] = query._DECODED_CACHE.max_bytes
    reader.close()
    query._DECODED_CACHE.max_bytes = cap0
    if run.tracer:
        run.dist_probes(g, idx, 0)

    timed = [o for o in run.ops if o.kind == "query"]
    lat = [o.ms for o in timed]
    tail_ms, tail_pct = st.tail(lat)
    run.extra.update(ops=len(timed), tail_percentile=round(tail_pct, 2),
                     timed_s=stop - start,
                     latencies_ms=[round(x, 3) for x in lat])
    return {
        "versions": {0: base},
        "timed": (start, stop),
        "metrics": {
            "setup_s": setup_s,
            "queries_per_s": st.slice_rate(
                [(o.begin, o.end) for o in timed], start, deadline,
                max(1, int(args.seconds))),
            "query_p50_ms": statistics.median(lat),
            "query_tail_ms": tail_ms,
            "index_turns_per_s": _turns_per_s(run.writes),
            "index_bytes_per_word": _dir_bytes(idx) / _words(base["text"]),
            "peak_rss_mb": rss,
        },
        "index_dir": idx,
    }


def _pool_postings(idx: str, pool: list[str], mods) -> int:
    """Postings of the distinct terms a query pool touches (term_stats df)."""
    import pyarrow.dataset as pads

    terms = sorted({t for q in pool for t in mods["lexer"].tokenize(q)})
    tbl = pads.dataset(os.path.join(idx, "term_stats"), format="parquet").to_table(
        columns=["df"], filter=pads.field("term").isin(terms))
    return int(sum(tbl.column("df").to_pylist()))


def _turns_per_s(writes) -> float:
    return sum(t for _k, t, _s in writes) / sum(s for _k, _t, s in writes)


def run_ingest(run: Run) -> dict:
    cfg = INGEST
    mods, args = run.mods, run.args
    build, query, session = mods["build"], mods["query"], mods["session"]
    g = gen_mod.Generator(args.seed)
    base = g.turns(cfg["turns"])
    probes = g.queries(cfg["probe_ranks"], cfg["probes"])
    src = _write_parquet(base, os.path.join(run.work, "base.parquet"))
    idx = os.path.join(run.work, "index")

    t0 = clock()
    with run.setup_trace():
        spark = run.start_spark()
        session.warm_workers(spark)
    setup_s = clock() - t0

    rounds: list[list[Op]] = []

    def probe_round(version: int):
        ops = []
        for j, q in enumerate(probes):
            op = Op("query", q, "pruned", version)
            # traced and untraced halves swap each round, so the
            # tracing overhead compares like with like
            with run.op(op, run.tracer is not None
                        and (j + len(rounds)) % 2 == 0):
                reader = query.IndexReader(spark, idx)
                try:
                    op.rows = _rows(reader.resolve_local(reader.search(q, K)))
                finally:
                    reader.close()
            ops.append(op)
        rounds.append(ops)

    start = clock()
    run.write("build", lambda: build.build_index(
        spark, spark.read.parquet(src), idx), len(base))
    probe_round(0)
    versions = {0: base}
    live = base
    while True:
        # each batch is drawn and written before its write is timed
        add = g.turns(cfg["append_turns"])
        edits = g.edits(gen_mod.pd.concat([live, add], ignore_index=True),
                        cfg["update_turns"])
        for kind, batch in (("append", add), ("update", edits)):
            path = _write_parquet(
                batch, os.path.join(run.work, f"batch{len(versions)}.parquet"))
            df = spark.read.parquet(path)
            # looked up at call time, so a traced run sees the wrapper
            run.write(kind, lambda k=kind, df=df: getattr(build, f"{k}_index")(
                spark, df, idx), len(batch))
            live = (gen_mod.pd.concat([live, add], ignore_index=True)
                    if kind == "append" else gen_mod.apply_edits(live, edits))
            versions[len(versions)] = live
            probe_round(len(versions) - 1)
        if clock() - start >= args.seconds:
            break
    stop = clock()
    rss = _peak_rss_mb()
    run.extra["cache_bytes"] = query._DECODED_CACHE._bytes
    run.extra["cache_cap"] = query._DECODED_CACHE.max_bytes
    if run.tracer:
        run.dist_probes(g, idx, len(versions) - 1)

    lat = [o.ms for r in rounds for o in r]
    tail_ms, tail_pct = st.tail(lat)
    # probe throughput over probe time only: the rounds laid end to end
    spans = []
    for r in rounds:
        shift = r[0].begin - (spans[-1][1] if spans else 0.0)
        spans += [(o.begin - shift, o.end - shift) for o in r]
    run.extra.update(
        ops=len(lat), tail_percentile=round(tail_pct, 2), timed_s=stop - start,
        latencies_ms=[round(x, 3) for x in lat],
        writes=[(k, t, round(s, 3)) for k, t, s in run.writes],
        **{f"{k}_turns_per_s": sum(t for kk, t, _ in run.writes if kk == k)
           / sum(s for kk, _, s in run.writes if kk == k)
           for k in ("build", "append", "update")})
    return {
        "versions": versions,
        "timed": (start, stop),
        "metrics": {
            "setup_s": setup_s,
            "queries_per_s": st.slice_rate(
                spans, 0.0, spans[-1][1], 2 * len(rounds)),
            "query_p50_ms": statistics.median(lat),
            "query_tail_ms": tail_ms,
            "index_turns_per_s": _turns_per_s(run.writes),
            "index_bytes_per_word": _dir_bytes(idx) / _words(live["text"]),
            "peak_rss_mb": rss,
        },
        "index_dir": idx,
    }


# --------------------------------------------------------------------------
# correctness: every query op against the oracle, after timing


def check(run: Run, versions: dict) -> tuple[int, int, list[str]]:
    """Returns (attempted, failed, first few failure notes). A query op
    fails when it raised or when its resolved top-k differs from
    oracle.OracleIndex over the corpus version it ran against."""
    OracleIndex = run.mods["oracle"].OracleIndex
    oracles: dict[int, tuple] = {}
    expected: dict[tuple, list] = {}
    attempted = failed = 0
    notes: list[str] = []
    for op in run.ops:
        if op.kind == "setup":
            continue
        attempted += 1
        bad = op.error
        if bad is None and op.query is not None:
            if op.version not in oracles:
                live = versions[op.version].sort_values(["conv_id", "turn_idx"])
                keys = list(zip(live["conv_id"], live["turn_idx"].astype(int)))
                oracles[op.version] = (
                    OracleIndex(enumerate(live["text"].tolist())), keys)
            key = (op.version, op.query, op.mode)
            if key not in expected:
                oracle, keys = oracles[op.version]
                search = (oracle.search_bm25_and if op.mode == "and"
                          else oracle.search_bm25)
                expected[key] = [(*keys[d], s) for d, s in search(op.query, K)]
            bad = _diff(op.rows, expected[key])
        if bad is not None:
            failed += 1
            if len(notes) < 5:
                notes.append(f"{op.kind} {op.query!r} {op.mode}: {bad}")
    return attempted, failed, notes


def _diff(got, want) -> str | None:
    if [r[:2] for r in got] != [r[:2] for r in want]:
        return f"ranks differ: got {got[:3]}... want {want[:3]}..."
    for (_c, _t, gs), (_c2, _t2, ws) in zip(got, want):
        if abs(gs - ws) > 1e-9 * max(abs(gs), abs(ws)):
            return f"score {gs!r} != {ws!r}"
    return None


# --------------------------------------------------------------------------
# per-layer metrics from the traced ops


def layer_metrics(run: Run, res: dict) -> dict:
    tr, counts = run.tracer, run.tracer.counts
    spans, selfs = tr.spans, self_times(tr.spans)
    by_op: dict = {}
    for sp, s in zip(spans, selfs):
        by_op.setdefault(sp[5], []).append((sp[1], s))
    traced = [o for o in run.ops if o.traced]

    def route(o) -> str | None:
        return next((r for r in ROUTES if counts.get((o.trace_id, f"route.{r}"))),
                    None)

    def per_op(ops, name) -> float:
        return sum(counts.get((o.trace_id, name), 0) for o in ops) / len(ops)

    def hit_ratio(ops) -> float:
        gets = sum(counts.get((o.trace_id, "cache.gets"), 0) for o in ops)
        hits = sum(counts.get((o.trace_id, "cache.hits"), 0) for o in ops)
        return hits / gets if gets else 0.0

    out = {k: 0.0 for k in PER_LAYER}
    # session and build: totals over the whole run
    for sp, s in zip(spans, selfs):
        name, dur = sp[1], sp[3] - sp[2]
        if name == "session.start":
            out["session.start_s"] += dur
        elif name == "session.warm_workers":
            out["session.warm_workers_s"] += dur
        elif name in STAGE_SPANS:
            out[STAGE_SPANS[name]] += dur
        elif name in WRITE_SPANS:
            out["build.commit_s"] += s
    writes = [o for o in traced if o.kind in ("build", "append", "update")]
    out["build.spark_jobs"] = sum(run.jobs[o.trace_id][0] for o in writes)
    out["build.bytes_written"] = _dir_bytes(res["index_dir"])
    t0, t1 = res["timed"]
    out["build.timed_share"] = sum(
        o.end - o.begin for o in writes if o.begin >= t0) / (t1 - t0)
    opens = [sp[3] - sp[2] for sp in spans if sp[1] == "query.reader_open"]
    out["query.reader_open_ms"] = 1e3 * statistics.mean(opens) if opens else 0.0
    out["query.cache.bytes"] = run.extra["cache_bytes"]
    out["query.cache.cap_bytes"] = run.extra["cache_cap"]

    # per distributed probe; the rest of search after search_df returned
    # is the collect
    dist = [o for o in traced if route(o) == "dist"]
    if dist:
        out["query.dist.jobs"] = sum(run.jobs[o.trace_id][0] for o in dist) / len(dist)
        out["query.dist.tasks"] = sum(run.jobs[o.trace_id][1] for o in dist) / len(dist)
    for o in dist:
        for name, s in by_op.get(o.trace_id, ()):
            if name == "query.dist.plan":
                out["query.dist.plan_ms"] += 1e3 * s / len(dist)
            elif name == "query.search":
                out["query.dist.collect_ms"] += 1e3 * s / len(dist)

    # query ops of the timed phase: per-op means of self time, so the
    # layers of one op add up to query.op_ms
    qops = [o for o in traced if o.kind == "query"]
    if qops:
        n = len(qops)
        for o in qops:
            for name, s in by_op.get(o.trace_id, ()):
                key = OP_LAYERS.get(name)
                if name == "op":
                    out["query.other_ms"] += 1e3 * s / n
                elif key:
                    out[key] += 1e3 * s / n
        out["query.op_ms"] = statistics.mean(o.ms for o in qops)
        for r in ROUTES:
            out[f"query.route.{r}"] = sum(route(o) == r for o in qops) / n
        out["query.read_bytes"] = per_op(qops, "read_bytes")
        out["compress.postings_decoded"] = per_op(qops, "postings_decoded")
        out["query.cache.evictions"] = per_op(qops, "cache.evictions")
        out["query.cache.hit_ratio"] = hit_ratio(qops)
        q = n // 4
        run.extra["hit_ratio_quarters"] = [
            round(hit_ratio(qops[i * q:(i + 1) * q]), 4) for i in range(4)]
        out["query.cache.hit_ratio_drift"] = (
            hit_ratio(qops[2 * q:]) - hit_ratio(qops[:2 * q]))
        untraced = [o.ms for o in run.ops if o.kind == "query" and not o.traced]
        if untraced:
            base = statistics.mean(untraced)
            out["trace.overhead_pct"] = 100.0 * (out["query.op_ms"] - base) / base
    return out


# --------------------------------------------------------------------------
# environment record


def _calib_one() -> float:
    """One fixed pure-CPU unit (the single-core score of bench.py's
    _calibrate): integer multiply/mod + sum over a cache-resident 64K
    int64 array, 400 passes. Returns Gelem/s."""
    import numpy as np

    a = np.arange(65_536, dtype=np.int64)
    t0 = clock()
    acc = 0
    for _ in range(400):
        acc += int(((a * 31 + 7) % 997).sum())
    dt = clock() - t0
    if acc == 0:
        raise RuntimeError("calibration loop was optimised away")
    return 400 * 65_536 / dt / 1e9


def environment() -> dict:
    return {"nproc": NPROC, "load1_before": os.getloadavg()[0],
            "calib_single_gops": round(max(_calib_one() for _ in range(3)), 4)}


# --------------------------------------------------------------------------


def import_engine() -> dict:
    sys.path.insert(0, ROOT)
    import importlib

    return {m: importlib.import_module(f"indexer_spark.{m}")
            for m in ("session", "build", "query", "lexer", "oracle")}


def run_all(args) -> int:
    """Every workload once, each in its own process; prints a table."""
    results, rc = {}, 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        rc |= 1 if p.returncode else 0
        try:
            res = json.loads(lines[-1])
            metrics = res["metrics"]
        except (IndexError, ValueError, KeyError):
            print(f"{w}: exit {p.returncode}, no result", flush=True)
            continue
        results[w] = res
        print(f"{w}: exit {p.returncode} correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}")
        for k, m in metrics.items():
            print(f"  {k:32s} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps(results))
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if args.workload == "all":
        return run_all(args)
    try:
        mods = import_engine()
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    env = environment()
    run = Run(args, mods)
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # scratch files of this process, the JVM and Spark's workers stay in
    # the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM starts before any Spark conf applies
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None
    try:
        res = run_ingest(run) if args.workload == "ingest" else run_serve(run)
        metrics = (layer_metrics(run, res) if args.trace
                   else res["metrics"])
        units = PER_LAYER if args.trace else END_TO_END
    finally:
        run.stop()
    attempted, failed, notes = check(run, res["versions"])
    env["load1_after"] = os.getloadavg()[0]

    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
    if run.tracer:
        run.tracer.dump(stem + ".spans.jsonl")
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "env": env,
              "details": run.extra, "failures": notes}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }
    with open(stem + ".json", "w") as f:
        json.dump({**record, **result}, f, indent=1)
    for k in units:
        print(f"{args.workload} {k} {metrics[k]:.6g} {units[k]}")
    print(f"{args.workload} query_tail_ms is p{run.extra['tail_percentile']} "
          f"of {run.extra['ops']} samples")
    print(f"{args.workload} error_rate {failed / attempted:.6g} share")
    for note in notes:
        print(f"{args.workload} FAILED {note}")
    print(json.dumps({k: record[k] for k in ("workload", "seed", "env")}))
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

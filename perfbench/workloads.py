"""The benchmark's workloads. Each takes a started Spark session and
returns the run's outcome: operations attempted and failed, and the
metrics, end-to-end or per-layer depending on whether the run traced.

serve-search     a closed loop of concurrent hybrid searches over a
                 memory store with fresh ANN and lexical indexes.
batch-analytics  one client running passes over registry queries on
                 generated tables, each result checked against its
                 DuckDB twin.
"""

from __future__ import annotations

import importlib.util
import itertools
import os
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import datagen
from perfbench.stats import nearest_rank
from perfbench.spans import OPERATOR_MODULES, Tracer, span_self_times

NOW = "2024-06-01 12:00:00"

#: serve-search: store size, result size and closed-loop clients
N_MEMORIES = 500
K = 5
CLIENTS = 2
#: searches each client runs at least, however short the run: the
#: count, and so the sample the median is taken from, then stays the
#: same when the host runs slower
MIN_OPS_PER_CLIENT = 2
#: IVF layout of the store's vector index (about 60 memories a cell)
ANN_CELLS = 8
ANN_NPROBE = 3
#: traced run only: adds, then one extraction and one delete, after the loop
TRACE_ADDS = 2

#: batch-analytics: registry queries, one pass runs each once in order
BATCH_QUERIES = (
    "batch_hybrid_search",
    "vector_knn",
    "longmemeval_recall_at5",
    "sessionize_events",
)
#: run and checked by traced batch runs only, to keep untraced runs
#: short: PPR's DuckDB twin alone takes about 12 s, and dedup's warm-up
#: about 7 s
TRACED_ONLY_QUERIES = ("ppr_graph_expand", "dedup_victims")
#: timed passes a batch run makes at least, however short the run
MIN_PASSES = 2


#: end-to-end metrics of an untraced run: unit, and which way is better
END_TO_END = {
    "ops_per_s": ("1/s", "higher"),
    "op_p50_ms": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}


def per_layer_metrics() -> dict[str, tuple[str, str]]:
    """Per-layer metrics of a traced run: unit, and which way is better."""
    m = {
        "session.start_s": ("s", "lower"),
        "engine.bulk_load_s": ("s", "lower"),
        "engine.index_build_s": ("s", "lower"),
        "engine.serving_snapshot_ms": ("ms", "lower"),
        "engine.snapshot_builds": ("count", "lower"),
        "engine.add_ms": ("ms", "lower"),
        "engine.delete_ms": ("ms", "lower"),
        "engine.index_refresh_ms": ("ms", "lower"),
        "engine.store_files": ("count", "lower"),
        "engine.store_bytes_per_user_byte": ("ratio", "lower"),
        "extraction.run_ms": ("ms", "lower"),
        "extraction.added_ratio": ("ratio", "higher"),
        "search.plan_ms": ("ms", "lower"),
        "search.plan_self_ms": ("ms", "lower"),
        "search.collect_ms": ("ms", "lower"),
        "search.release_ms": ("ms", "lower"),
        "search.jobs_per_op": ("count", "lower"),
        "search.stages_per_op": ("count", "lower"),
        "search.tasks_per_op": ("count", "lower"),
        "search.index_served_ratio": ("ratio", "higher"),
    }
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.calls"] = ("count", "lower")
        m[f"operators.{mod}.ms"] = ("ms", "lower")
    for q in BATCH_QUERIES + TRACED_ONLY_QUERIES:
        m[f"plans.{q}.s"] = ("s", "lower")
        m[f"plans.{q}.jobs"] = ("count", "lower")
    m["trace.ops_per_s"] = ("1/s", "higher")
    m["trace.cost_ms_per_op"] = ("ms", "lower")
    return m


def complete_metrics(metrics: dict[str, tuple[float, str]], trace: bool) -> dict[str, tuple[float, str]]:
    """A run's metrics in the fixed order of ``BENCHMARK.json``: every
    end-to-end metric for an untraced run, every per-layer metric for a
    traced one. A per-layer metric of a layer the workload never calls
    reads 0. Unknown names, wrong units and missing end-to-end metrics
    raise."""
    expected = per_layer_metrics() if trace else END_TO_END
    for name, (_value, unit) in metrics.items():
        if name not in expected:
            raise ValueError(f"metric {name!r} is not in the benchmark's list")
        if unit != expected[name][0]:
            raise ValueError(f"metric {name!r} in {unit!r}, listed in {expected[name][0]!r}")
    missing = [n for n in expected if n not in metrics]
    if missing and not trace:
        raise ValueError(f"end-to-end metrics missing: {missing}")
    return {n: metrics.get(n, (0.0, expected[n][0])) for n in expected}


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


# --- shared helpers ---------------------------------------------------


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """High-water resident memory of the driver JVM plus this process."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    jvm, py = _vm_hwm_mb(jvm_pid), _vm_hwm_mb("self")
    log(f"peak resident memory: JVM {jvm:.0f} MB, Python {py:.0f} MB")
    return jvm + py


class JobCounter:
    """Spark jobs, stages and tasks per operation, counted through a
    job group per operation and the status tracker (traced runs only).
    The time spent querying the tracker is kept as tracing cost."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.cost_s = 0.0
        self.calls = 0
        self._lock = threading.Lock()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def finish(self, group: str) -> tuple[int, int, int]:
        t0 = time.perf_counter()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info is not None else ():
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        with self._lock:
            self.cost_s += time.perf_counter() - t0
            self.calls += 1
        return len(jobs), stages, tasks

    def cost_ms_per_op(self, spans_per_op: float) -> float:
        """Tracing cost per operation: its spans at the measured cost
        of one span, plus its share of status-tracker queries."""
        return (spans_per_op * _span_cost_s() + self.cost_s / max(1, self.calls)) * 1000.0


def _span_cost_s(n: int = 20000) -> float:
    """Seconds one recorded span costs, measured on a scratch tracer."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _median(values: list[float]) -> float:
    return nearest_rank(values, 0.5) if values else 0.0


def _mean_query_median_ms(runs: list) -> float:
    """Batch latency: each query's median execution time, averaged
    over the queries, so every query weighs the same whichever one the
    overall median would land on."""
    by_name: dict[str, list[float]] = {}
    for r in runs:
        by_name.setdefault(r.name, []).append(r.seconds * 1000.0)
    return sum(_median(v) for v in by_name.values()) / max(1, len(by_name))


def operator_metrics(tracer: Tracer, ops: set[int]) -> dict[str, tuple[float, str]]:
    """Calls and self time per operation for each operator module,
    over the spans of the timed operations only."""
    selfs = span_self_times(tracer.spans)
    out: dict[str, tuple[float, str]] = {}
    n = max(1, len(ops))
    for mod in OPERATOR_MODULES:
        prefix = f"operators.{mod}."
        hits = [s for s in tracer.spans if s.name.startswith(prefix) and s.op in ops]
        out[f"operators.{mod}.calls"] = (len(hits) / n, "count")
        out[f"operators.{mod}.ms"] = (sum(selfs[s.id] for s in hits) * 1000.0 / n, "ms")
    return out


def _tree_bytes_files(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


def closed_loop(clients: int, seconds: float, run_op) -> tuple[list[list], list[float]]:
    """``clients`` threads each call ``run_op(op)`` back to back until
    ``seconds`` have passed since the start and each has run at least
    ``MIN_OPS_PER_CLIENT``, finishing the operation in flight.
    Operation numbers come from one shared counter, so the n-th
    operation started is op n whatever the client count. Returns each
    client's results and its busy time (start to its last result)."""
    next_op = itertools.count()
    op_lock = threading.Lock()
    results: list[list] = [[] for _ in range(clients)]
    busy_s = [0.0] * clients
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client(c: int) -> None:
        while len(results[c]) < MIN_OPS_PER_CLIENT or time.perf_counter() < deadline:
            with op_lock:
                op = next(next_op)
            results[c].append(run_op(op))
        busy_s[c] = time.perf_counter() - t_start

    threads = [threading.Thread(target=client, args=(c,), name=f"client-{c}") for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results, busy_s


# --- serve-search -----------------------------------------------------


@dataclass
class SearchRecord:
    op: int
    query: str
    latency_s: float = 0.0
    plan_s: float = 0.0
    collect_s: float = 0.0
    release_s: float = 0.0
    rows: list[tuple[int, float]] = field(default_factory=list)
    error: str | None = None
    counts: tuple[int, int, int] | None = None
    index_served: bool | None = None


def write_phase(engine, seed: int, tracer: Tracer, out: Outcome) -> dict[str, tuple[float, str]]:
    """Traced serve-search runs only: adds, one extraction and one
    delete, each followed by a serving-snapshot read, then both index
    refreshes. The store's count must move by exactly the rows written."""
    from memories_spark.extraction import MockProvider, mock_embed, run_extraction

    texts = datagen.write_texts(seed, TRACE_ADDS + 2)
    before = engine.count()
    snap_ms: list[float] = []
    builds = 0
    last_snap = engine.serving_memories()

    def timed(name: str, fn):
        with tracer.span(name):
            t0 = time.perf_counter()
            result = fn()
            return result, (time.perf_counter() - t0) * 1000.0

    def snapshot() -> None:
        nonlocal builds, last_snap
        df, ms = timed("engine.serving_snapshot", engine.serving_memories)
        snap_ms.append(ms)
        builds += df is not last_snap
        last_snap = df

    add_ms, added_ids = [], []
    for text in texts[:TRACE_ADDS]:
        out.attempted += 1
        ids, ms = timed("engine.add", lambda: engine.add(
            [{"text": text, "source": "bench/writes", "embedding": mock_embed(text)}], NOW))
        added_ids += ids
        add_ms.append(ms)
        snapshot()
    out.attempted += 1
    transcript = "\n".join(f"FACT: {t}" for t in texts[TRACE_ADDS:])
    ext, extract_ms = timed("extraction.run", lambda: run_extraction(
        engine, transcript, MockProvider(), "bench/extract", NOW))
    snapshot()
    out.attempted += 1
    deleted, delete_ms = timed("engine.delete", lambda: engine.delete([added_ids[0]], NOW))
    snapshot()
    _, refresh_ms = timed("engine.index_refresh", lambda: (
        engine.refresh_vector_index(), engine.refresh_lexical_index()))

    expected = before + len(added_ids) + ext["added"] - deleted
    after = engine.count()
    if deleted != 1 or after != expected:
        out.fail(f"write phase: count {after}, expected {expected} ({before} + {len(added_ids)} "
                 f"adds + {ext['added']} extracted - {deleted} deleted)")

    store_bytes, store_files = _tree_bytes_files(engine.path)
    live = (engine.table("memories").filter("NOT coalesce(archived, false)")
            .select("text", "embedding").collect())
    user_bytes = sum(len(r["text"].encode()) + 4 * len(r["embedding"] or ()) for r in live)
    return {
        "engine.serving_snapshot_ms": (_median(snap_ms), "ms"),
        "engine.snapshot_builds": (float(builds), "count"),
        "engine.add_ms": (_median(add_ms), "ms"),
        "engine.delete_ms": (delete_ms, "ms"),
        "engine.index_refresh_ms": (refresh_ms, "ms"),
        "engine.store_files": (float(store_files), "count"),
        "engine.store_bytes_per_user_byte": (store_bytes / user_bytes, "ratio"),
        "extraction.run_ms": (extract_ms, "ms"),
        "extraction.added_ratio": ((ext["added"] + ext["updated"]) / max(1, ext["extracted"]), "ratio"),
    }


def serve_search(spark, seed: int, seconds: float, tracer: Tracer, work: str,
                 session_s: float) -> Outcome:
    from memories_spark.engine import MemoriesEngine
    from memories_spark.extraction import mock_embed
    from memories_spark.search import hybrid_search, release_caches

    trace = tracer.enabled
    counter = JobCounter(spark) if trace else None
    out = Outcome()

    # --- set-up: bulk load, feedback, both indexes, warm snapshot ----
    t_setup = time.perf_counter()
    docs = datagen.documents(seed, N_MEMORIES)
    engine = MemoriesEngine(spark, os.path.join(work, "store"))
    records = [{"text": d["text"], "source": d["source"], "embedding": mock_embed(d["text"])}
               for d in docs]
    with tracer.span("engine.bulk_load"):
        t0 = time.perf_counter()
        ids = engine.add(records, NOW)
        bulk_s = time.perf_counter() - t0
    rng = datagen.stream_rng(seed, "feedback")
    with tracer.span("engine.feedback"):
        engine.log_feedback(int(rng.choice(ids)), "useful", NOW)
    with tracer.span("engine.index_build"):
        t0 = time.perf_counter()
        # the two indexes are independent: build them side by side
        with ThreadPoolExecutor(1, thread_name_prefix="lexical-build") as pool:
            lexical = pool.submit(engine.build_lexical_index)
            engine.build_vector_index(cells=ANN_CELLS, nprobe=ANN_NPROBE)
            lexical.result()
        index_s = time.perf_counter() - t0
    with tracer.span("engine.serving_snapshot"):
        engine.serving_memories()

    plan = datagen.query_plan(seed, 4096)

    def search(op: int, query: str) -> SearchRecord:
        rec = SearchRecord(op, query)
        group = f"search-{op}"
        with tracer.span("search.op", op=op):
            if trace:
                rec.index_served = (engine.vector_index_meta() is not None
                                    and engine.lexical_index_meta() is not None)
                counter.start(group)
            df = None
            t0 = time.perf_counter()
            try:
                with tracer.span("search.plan"):
                    df = hybrid_search(engine, query, k=K, now=NOW, ann=True, lexical=True)
                t1 = time.perf_counter()
                with tracer.span("search.collect"):
                    rows = df.collect()
                t2 = time.perf_counter()
                rec.rows = [(int(r["id"]), float(r["rrf_score"])) for r in rows]
                rec.plan_s, rec.collect_s = t1 - t0, t2 - t1
            except Exception as e:  # a failed search is counted, not fatal
                rec.error = f"{type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
            finally:
                t2 = time.perf_counter()
                if df is not None:
                    with tracer.span("search.release"):
                        release_caches(df)
                t3 = time.perf_counter()
            rec.release_s, rec.latency_s = t3 - t2, t3 - t0
            log(f"search {op}: {rec.latency_s * 1000.0:.0f} ms")
            if trace:
                rec.counts = counter.finish(group)
        return rec

    # warm-up: one search per client, side by side as in the loop. The
    # first timed operations repeat these queries, so every run checks
    # repeated query strings.
    with ThreadPoolExecutor(CLIENTS, thread_name_prefix="warm") as pool:
        warm = list(pool.map(lambda i: search(-1 - i, plan[i]), range(CLIENTS)))
    setup_s = session_s + (time.perf_counter() - t_setup)
    log(f"set up in {setup_s:.1f} s")

    # --- timed closed loop ----------------------------------------------
    records_by_client, busy_s = closed_loop(
        CLIENTS, seconds, lambda op: search(op, plan[op % len(plan)]))
    # read before the checks below, so it covers the program's work only
    rss_mb = peak_rss_mb(spark)
    recs = sorted((r for rs in records_by_client for r in rs), key=lambda r: r.op)
    log(f"{len(recs)} searches in {max(busy_s):.1f} s")

    # --- correctness, outside the timed region ------------------------
    store_ids = {int(r["id"]) for r in engine.table("memories").select("id").collect()}
    first_ids: dict[str, list[int]] = {}
    for r in warm + recs:
        if r.error is None:
            first_ids.setdefault(r.query, [i for i, _ in r.rows])
    for r in recs:
        out.attempted += 1
        got = [i for i, _ in r.rows]
        scores = [s for _, s in r.rows]
        if r.error is not None:
            out.fail(f"search {r.op} {r.query!r}: {r.error}")
        elif len(got) != K:
            out.fail(f"search {r.op} {r.query!r}: {len(got)} rows, expected {K}")
        elif not set(got) <= store_ids:
            out.fail(f"search {r.op} {r.query!r}: ids not in the store: {sorted(set(got) - store_ids)}")
        elif any(a < b for a, b in zip(scores, scores[1:])):
            out.fail(f"search {r.op} {r.query!r}: rrf_score increases: {scores}")
        elif got != first_ids.get(r.query, got):
            out.fail(f"search {r.op} {r.query!r}: top-{K} {got} differs from {first_ids[r.query]}")
    ok = [r for r in recs if r.error is None]
    lat_ms = [r.latency_s * 1000.0 for r in ok]
    per_client = [len(rs) / busy_s[c] for c, rs in enumerate(records_by_client) if busy_s[c] > 0]
    ops_per_s = sum(per_client)

    if not trace:
        out.metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (ops_per_s, "1/s"),
            "op_p50_ms": (_median(lat_ms), "ms"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
        return out

    # --- traced run: the engine's write path, after the timed loop -----
    try:
        m = write_phase(engine, seed, tracer, out)
    except Exception as e:  # a failed write phase is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        out.fail(f"write phase: {type(e).__name__}: {e}")
        m = {}

    timed_ops = {r.op for r in ok}
    op_spans = {s.op: s for s in tracer.spans if s.name == "search.plan" and s.op in timed_ops}
    selfs = span_self_times(tracer.spans)
    counted = [r.counts for r in ok if r.counts is not None]
    spans_per_op = sum(1 for s in tracer.spans if s.op in timed_ops) / max(1, len(timed_ops))
    m.update({
        "session.start_s": (session_s, "s"),
        "engine.bulk_load_s": (bulk_s, "s"),
        "engine.index_build_s": (index_s, "s"),
        "search.plan_ms": (_median([r.plan_s * 1000.0 for r in ok]), "ms"),
        "search.plan_self_ms": (_median([selfs[s.id] * 1000.0 for s in op_spans.values()]), "ms"),
        "search.collect_ms": (_median([r.collect_s * 1000.0 for r in ok]), "ms"),
        "search.release_ms": (_median([r.release_s * 1000.0 for r in ok]), "ms"),
        "search.jobs_per_op": (_median([float(c[0]) for c in counted]), "count"),
        "search.stages_per_op": (_median([float(c[1]) for c in counted]), "count"),
        "search.tasks_per_op": (_median([float(c[2]) for c in counted]), "count"),
        "search.index_served_ratio": (sum(bool(r.index_served) for r in ok) / max(1, len(ok)), "ratio"),
        "trace.ops_per_s": (ops_per_s, "1/s"),
        "trace.cost_ms_per_op": (counter.cost_ms_per_op(spans_per_op), "ms"),
    })
    m.update(operator_metrics(tracer, timed_ops))
    out.metrics = m
    return out


# --- batch-analytics --------------------------------------------------


@dataclass
class QueryRun:
    name: str
    op: int
    seconds: float = 0.0
    pdf: object = None
    error: str | None = None
    jobs: int = 0


class _Collected:
    """A result already collected to pandas, in the shape
    ``parity.compare`` reads (it only calls ``toPandas``)."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _load_parity(root: str):
    spec = importlib.util.spec_from_file_location("perfbench_parity", os.path.join(root, "tests", "parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def batch_analytics(spark, seed: int, seconds: float, tracer: Tracer, work: str,
                    session_s: float, root: str) -> Outcome:
    from memories_spark.plans.registry import QUERIES

    parity = _load_parity(root)
    trace = tracer.enabled
    counter = JobCounter(spark) if trace else None
    out = Outcome()
    op_ids = itertools.count()

    t_setup = time.perf_counter()
    data = os.path.join(work, "data")
    datagen.write_tables(seed, data)
    log(f"tables written in {time.perf_counter() - t_setup:.1f} s")

    def execute(name: str, timed: bool) -> QueryRun:
        op = next(op_ids) if timed else None
        group = f"query-{op}"
        run = QueryRun(name, -1 if op is None else op)
        with tracer.span(f"plans.{name}", op=op):
            if trace and timed:
                counter.start(group)
            t0 = time.perf_counter()
            try:
                df = QUERIES[name].fn(spark, data)
                run.pdf = df.toPandas()
            except Exception as e:  # a failed query is counted, not fatal
                run.error = f"{type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
            run.seconds = time.perf_counter() - t0
            log(f"{name} {'op ' + str(op) if timed else 'warm'}: {run.seconds * 1000.0:.0f} ms")
            if trace and timed:
                run.jobs = counter.finish(group)[0]
        return run

    for name in BATCH_QUERIES:  # warm every query once
        execute(name, timed=False)
    setup_s = session_s + (time.perf_counter() - t_setup)
    log(f"set up in {setup_s:.1f} s")

    runs: list[QueryRun] = []
    t_start = time.perf_counter()
    deadline = t_start + seconds
    pass_s: list[float] = []
    while True:  # whole passes only, so every query weighs the same
        t_pass = time.perf_counter()
        runs += [execute(name, timed=True) for name in BATCH_QUERIES]
        pass_s.append(time.perf_counter() - t_pass)
        if len(pass_s) >= MIN_PASSES and time.perf_counter() >= deadline:
            break
    elapsed = time.perf_counter() - t_start
    # read before the DuckDB checks below, which run in this process
    rss_mb = peak_rss_mb(spark)
    log(f"{len(runs)} query executions in {elapsed:.1f} s")

    extra: list[QueryRun] = []
    if trace:  # queries too slow to check on every run: warm, run once
        for name in TRACED_ONLY_QUERIES:
            execute(name, timed=False)
            extra.append(execute(name, timed=True))

    # --- correctness: the first result of each query against its
    # DuckDB twin, every later result against the first ----------------
    t_check = time.perf_counter()
    reference: dict[str, object] = {}
    for run in runs + extra:
        out.attempted += 1
        if run.error is not None:
            out.fail(f"{run.name}: {run.error}")
        elif run.name not in reference:
            good, msg = parity.compare(_Collected(run.pdf), QUERIES[run.name].oracle, data)
            reference[run.name] = parity.canonical(run.pdf) if good else None
            if not good:
                out.fail(f"{run.name}: differs from its DuckDB twin: {msg}")
        elif reference[run.name] is None or not parity.canonical(run.pdf).equals(reference[run.name]):
            out.fail(f"{run.name}: op {run.op} result differs from its first execution")
    log(f"checked against DuckDB in {time.perf_counter() - t_check:.1f} s")

    ok = [r for r in runs if r.error is None]
    # the median pass, as the latency is a median: a stall of the host
    # in one pass does not move it
    ops_per_s = len(BATCH_QUERIES) / _median(pass_s)
    if not trace:
        out.metrics = {
            "ops_per_s": (ops_per_s, "1/s"),
            "op_p50_ms": (_mean_query_median_ms(ok), "ms"),
            "peak_rss_mb": (rss_mb, "MB"),
            "setup_s": (setup_s, "s"),
        }
        return out

    timed = [r for r in runs + extra if r.error is None]
    timed_ops = {r.op for r in ok}
    spans_per_op = sum(1 for s in tracer.spans if s.op in timed_ops) / max(1, len(timed_ops))
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "trace.ops_per_s": (ops_per_s, "1/s"),
        "trace.cost_ms_per_op": (counter.cost_ms_per_op(spans_per_op), "ms"),
    }
    for name in BATCH_QUERIES + TRACED_ONLY_QUERIES:
        mine = [r for r in timed if r.name == name]
        m[f"plans.{name}.s"] = (_median([r.seconds for r in mine]), "s")
        m[f"plans.{name}.jobs"] = (_median([float(r.jobs) for r in mine]), "count")
    m.update(operator_metrics(tracer, {r.op for r in timed}))
    out.metrics = m
    return out

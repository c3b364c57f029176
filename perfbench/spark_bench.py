"""query_mix: a closed loop, one client, over registered queries.

One execution is ``QUERIES[name](spark, sf_dir)`` plus ``.count()`` on the
result, followed (outside the execution's latency) by
``cache.release_persisted()`` so no execution reads a cache left by the
previous one. The order of each pass is shuffled by the seed. The timed
phase runs whole passes, at least ``MIN_PASSES``, until ``--seconds`` have
elapsed. ``ops_per_s`` is executions per second of the timed phase;
``op_p50_s`` and ``op_p90_s`` are percentiles over every timed execution.

Set-up (``setup_s``) is registry load, session start and a warm-up pass
that collects each result. The collected rows are checked against the
DuckDB oracles after the timed phase (untimed), and every timed ``.count()``
is checked against the oracle row count.

With tracing on, the benchmark wraps ``io.load_table`` and
``cache.managed_persist`` where the operator modules reference them,
records spans query -> operators.build -> io.load_table, spark.action,
cache.release (streaming triggers under the span they ran in), counts jobs,
stages and stage metrics by job-id range from the JVM status store (which
also sees micro-batch jobs that run under a stream's own job group), and
reads StreamingQueryProgress through a StreamingQueryListener.
"""

from __future__ import annotations

import datetime as dt
import random
import sys
import time
import traceback

from tests import oracle_diff

from . import datagen, oracle
from .common import SPARK_COUNTERS, SPARK_SPANS, Tracer, nproc, peak_rss_mb, percentile

# One closed loop over three kinds of registered query: TPC-H-style short
# plans (table loads, driver planning, jobs per query, shuffle joins),
# LLM-curation operators (a pandas UDF, an iterative fixpoint loop with
# managed persists) and CDC streaming operators (a stateful dedup over a
# parquet file stream, and a publish/subscribe roundtrip through the
# nats_cdc sink and source), whose StreamingQueries run inside build.
QUERIES = (
    "q1_pricing_summary", "q5_local_supplier_volume",
    "udf_grouped", "graph_connected_components",
    "stream_dedup", "nats_roundtrip",
)
MIN_PASSES = 2


class _JvmProbe:
    """Job-id ranges and stage metrics read from the driver's status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def next_job(self) -> int:
        # py4j hands the AtomicInteger over as its current value.
        return self._dag.nextJobId()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def stage_totals(self, first_job: int, end_job: int) -> dict[str, float]:
        stage_ids: set[int] = set()
        for jid in range(first_job, end_job):
            ids = self._store.job(jid).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out = dict.fromkeys(
            ("stages", "tasks", "executor_run_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"), 0.0)
        for sid in stage_ids:
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


def _streaming_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        """Keeps the fields of each event; drained after every execution."""

        def __init__(self) -> None:
            self.events: list[tuple] = []

        def onQueryStarted(self, event) -> None:
            self.events.append(("start", str(event.runId), event.timestamp))

        def onQueryProgress(self, event) -> None:
            p = event.progress
            state = sum(op.numRowsTotal for op in p.stateOperators)
            self.events.append(("progress", str(p.runId), p.timestamp,
                                dict(p.durationMs), p.numInputRows, state))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Listener()


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _Hooks:
    """Timing wrappers around the public entry points of ``io`` and
    ``cache``, installed in every engine module that references them."""

    def __init__(self, tracer: Tracer, probe: _JvmProbe) -> None:
        self.tracer, self.probe = tracer, probe
        self._undo: list[tuple] = []

    def install(self) -> None:
        from node_cdc_nats_spark import cache, io

        load_table, managed_persist = io.load_table, cache.managed_persist
        tracer, probe = self.tracer, self.probe

        def traced_load_table(spark, sf_dir, name):
            j0 = probe.next_job()
            sid = tracer.begin("io.load_table")
            try:
                return load_table(spark, sf_dir, name)
            finally:
                tracer.count("io.load_s", tracer.end(sid))
                tracer.count("io.load_calls")
                tracer.count("io.load_jobs", probe.next_job() - j0)

        def counted_persist(df, *args, **kwargs):
            tracer.count("cache.persists")
            return managed_persist(df, *args, **kwargs)

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("node_cdc_nats_spark"):
                continue
            for attr, orig, new in (("load_table", load_table, traced_load_table),
                                    ("managed_persist", managed_persist, counted_persist)):
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, new)
                    self._undo.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._undo):
            setattr(mod, attr, orig)
        self._undo.clear()


def _stream_metrics(tracer: Tracer, events: list[tuple], offset: float,
                    query_sid: int, build_sid: int) -> None:
    """Fold one execution's streaming events into counters and trigger spans."""
    starts: dict[str, float] = {}
    last: dict[str, tuple] = {}
    busy: dict[str, float] = {}
    b_start, b_end = tracer.spans[build_sid][2], tracer.spans[build_sid][3]
    for ev in events:
        if ev[0] == "start":
            starts[ev[1]] = _epoch(ev[2])
            tracer.count("streaming.queries")
            continue
        _, run_id, ts, dur, rows, state = ev
        trig = dur.get("triggerExecution", 0) / 1000.0
        tracer.count("streaming.triggers")
        tracer.count("streaming.trigger_s", trig)
        tracer.count("streaming.add_batch_s", dur.get("addBatch", 0) / 1000.0)
        tracer.count("streaming.wal_commit_s", dur.get("walCommit", 0) / 1000.0)
        tracer.count("streaming.planning_s", dur.get("queryPlanning", 0) / 1000.0)
        tracer.count("streaming.input_rows", rows)
        busy[run_id] = busy.get(run_id, 0.0) + trig
        last[run_id] = (_epoch(ts) + trig, state)
        start = _epoch(ts) - offset
        parent = build_sid if b_start <= start <= b_end else query_sid
        tracer.add_span("streaming.trigger", start, start + trig, parent)
    for run_id, (end, state) in last.items():
        tracer.count("streaming.state_rows", state)
        if run_id in starts:
            tracer.count("streaming.idle_s", max(0.0, end - starts[run_id] - busy[run_id]))


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(ctx: dict) -> dict:
    seed, seconds, trace = ctx["seed"], ctx["seconds"], ctx["trace"]
    names = QUERIES
    sf_dir = datagen.ensure(ctx["data_dir"])

    t0 = time.perf_counter()
    from node_cdc_nats_spark import registry
    from node_cdc_nats_spark.cache import release_persisted
    from node_cdc_nats_spark.session import get_spark

    registry.load_all()
    t_registry = time.perf_counter()
    # Oracle summaries are the benchmark's own input preparation: untimed.
    expected = oracle.expected(ctx["oracle_cache"], sf_dir, {n: registry.ORACLES[n] for n in names})
    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{nproc()}]")
    t_session = time.perf_counter()
    warm: dict[str, tuple] = {}
    failures: list[str] = []
    warm_s: dict[str, float] = {}
    for name in names:
        a = time.perf_counter()
        try:
            df = registry.QUERIES[name](spark, sf_dir)
            warm[name] = (df, [tuple(r) for r in df.collect()])
        except Exception:
            failures.append(f"{name}: warm-up raised\n{traceback.format_exc()}")
        release_persisted()
        warm_s[name] = time.perf_counter() - a
    t_warm = time.perf_counter()
    setup_s = (t_registry - t0) + (t_warm - t1)

    tracer = Tracer()
    probe = hooks = listener = None
    offset = time.time() - time.perf_counter()
    if trace:
        probe = _JvmProbe(spark)
        hooks = _Hooks(tracer, probe)
        hooks.install()
        listener = _streaming_listener()
        spark.streams.addListener(listener)
        probe.drain()
        listener.events.clear()

    per_query: dict[str, list[float]] = {name: [] for name in names}
    attempted = failed = 0

    def execute(name: str) -> None:
        """One timed execution, then cache release and, traced, the job,
        stage and streaming bookkeeping of this execution."""
        nonlocal attempted, failed
        attempted += 1
        qsid = tracer.begin("query") if trace else None
        j0 = probe.next_job() if trace else 0
        a = time.perf_counter()
        try:
            bsid = tracer.begin("operators.build") if trace else None
            df = registry.QUERIES[name](spark, sf_dir)
            if trace:
                tracer.count("operators.build_s", tracer.end(bsid))
                j1 = probe.next_job()
                asid = tracer.begin("spark.action")
            n = df.count()
            if trace:
                tracer.count("spark.action_s", tracer.end(asid))
            b = time.perf_counter()
        except Exception:
            failed += 1
            failures.append(f"{name}: timed execution raised\n{traceback.format_exc()}")
            if trace:
                while tracer._stack and tracer._stack[-1] != qsid:
                    tracer.end(tracer._stack[-1])
            b = None
        rsid = tracer.begin("cache.release") if trace else None
        release_persisted()
        if trace:
            tracer.count("cache.release_s", tracer.end(rsid))
            tracer.end(qsid)
        if b is None:
            return
        per_query[name].append(b - a)
        if n != expected[name]["rows"]:
            failed += 1
            failures.append(f"{name}: count {n} != oracle rows {expected[name]['rows']}")
        if trace:
            o = time.perf_counter()
            j2 = probe.next_job()
            probe.drain()
            tracer.count("operators.build_jobs", j1 - j0)
            tracer.count("spark.jobs", j2 - j0)
            for k, v in probe.stage_totals(j0, j2).items():
                tracer.count(f"spark.{k}", v)
            events, listener.events = listener.events, []
            _stream_metrics(tracer, events, offset, qsid, bsid)
            tracer.overhead_s += time.perf_counter() - o

    # Timed phase: whole passes, at least MIN_PASSES, until ``seconds`` have
    # passed.
    rng = random.Random(seed)
    start = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - start < seconds:
        order = list(names)
        rng.shuffle(order)
        for name in order:
            execute(name)
        passes += 1
    wall = time.perf_counter() - start
    rss = peak_rss_mb()

    # Correctness of the warm-up results (untimed).
    for name in names:
        attempted += 1
        if name not in warm:
            failed += 1
            continue
        df, rows = warm[name]
        if oracle.quick_check(expected[name], df, rows):
            continue
        problems = oracle_diff.compare(spark, name, registry.QUERIES[name],
                                       registry.ORACLES[name], sf_dir)
        release_persisted()
        if problems:
            failed += 1
            failures.extend(problems)

    if hooks is not None:
        hooks.uninstall()
    spark_version = spark.version
    _stop_spark(spark)

    done = [t for ts in per_query.values() for t in ts]
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(done) / wall,
        "op_p50_s": percentile(done, 50) if done else float("nan"),
        "op_p90_s": percentile(done, 90) if done else float("nan"),
        "peak_rss_mb": rss,
    }
    layers: dict[str, float] = {}
    if trace:
        layers = {k: tracer.counters.get(k, 0.0) for k in SPARK_COUNTERS}
        selfs = tracer.self_times()
        for s in SPARK_SPANS:
            layers[f"self.{s}_s"] = selfs.get(s, 0.0)
        layers["trace.overhead_s"] = tracer.overhead_s
    return {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "e2e": e2e,
        "layers": layers,
        "spans": tracer.spans,
        "detail": {
            "spark_version": spark_version,
            "sf_dir": sf_dir,
            "scale": datagen.SCALE,
            "queries": list(names),
            "passes": passes,
            "warmup_s": warm_s,
            "executions_s": per_query,
            "timed_wall_s": wall,
            "setup_parts_s": {
                "registry": t_registry - t0,
                "session": t_session - t1,
                "warmup": t_warm - t_session,
            },
        },
    }

#!/usr/bin/env python3
"""Benchmark of the word-count engine: one closed-loop client on
``local[nproc]``, driving the package only through its public query
functions.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Inputs are generated from the
seed (cached per seed under ``.perfbench/cache``); every run works in a
fresh directory under ``.perfbench/runs`` (temp files, Spark local
dirs, index catalog, warehouse), which is removed at exit.

A run has three phases:

1. Set-up (``setup_s``), from process start: launch the JVM and
   SparkSession, import every operator, then run one warm-up pass over
   the workload's queries on a fresh copy of the inputs with a fresh
   index catalog, so at-rest index builds land here. Input generation
   and copying are not counted.
2. Correctness gate (untimed): the warm-up pass collects every result,
   which is compared with the query's DuckDB oracle over the same
   files.
3. Timed window: whole passes in a seeded random order, as many as fit
   in ``--seconds`` at the workload's nominal pass time (and at least
   ``MIN_PASSES``). The count does not depend on how fast this run
   goes, so a query's best value is always taken over the same number
   of samples. Caches and pins are released between passes, as the
   engine's own bench does.

Every query run in the window is timed twice: its wall, and the CPU
seconds it cost this client, the Spark JVM and the JVM's Python workers
(without the JIT compiler threads, see :func:`work_cpu_s`). Each query
is summarised by its best (least) value over the passes; the engine's
own bench takes a min of three too. On a shared 4-vCPU host the wall of
a whole run moves by 20-40% with the other tenants' load (CPU steal),
while the CPU seconds of a pass spread by under a tenth between runs,
so the timed end-to-end metric is a CPU one.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:
``setup_s`` (wall) and ``pass_cpu_s`` (sum over the queries of their
best CPU); the query percentiles (``cpu.query_p50_s``,
``cpu.query_p90_s``, percentiles across the queries of their best value)
and the same statistics over wall time (``wall.*``) are printed on ``#``
lines. With ``--trace 1`` the same run is traced (spans, job/stage/task
accounting, streaming progress) and the line carries the per-layer
metrics, per timed pass, plus the same metrics of the set-up pass under
``setup.``, the ``cpu.`` and ``wall.`` query statistics, and the
driver's memory: its peak RSS (VmHWM) and its heap after a full
GC at the end of the first timed pass. Memory is not an end-to-end
metric because both readings vary by 10-30% from run to run. The traced
run also writes its spans to ``.perfbench/out``. The exit code is
non-zero when any result is wrong or any query raised.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mapreduce_wordcounter_spark"

SF = 0.01  # generated table scale: 60k lineitem rows
CORPUS_MB = 2.5  # generated word-count corpus, text megabytes (approx.)
DRIVER_MEM = "2g"
MIN_PASSES = 3  # a query's best value is taken over at least this many runs
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # thread names, cut to 15 chars

# name -> (input kind, nominal pass seconds on 4 cores, queries)
WORKLOADS = {
    # The paper's own query family on a corpus large enough that the
    # execute layer does almost all the work.
    "wordcount_corpus": ("corpus", 3.0, [
        "count_words", "wc_counts", "wc_top100", "wc_summary", "tf_idf",
    ]),
    # Serve-tier queries across the operator families, a streaming drain
    # and versioned-table writes beside reads, at a size where fixed
    # per-query overhead dominates.
    "serve_mix": ("tables", 6.0, [
        "wc_top100", "q1_pricing_summary", "dedup_exact",
        "join_asof_last_purchase", "quality_lr_predict", "ev_tumbling_hourly",
        "stream_stateful_user_counts", "merge_into_versioned",
        "table_delete_versioned", "table_time_travel", "table_pruned_range",
    ]),
}

FAMILIES = (
    "cli", "wordcount", "text", "relational", "temporal", "dedup", "training",
    "lakehouse", "streaming.windows", "streaming.stateful",
)


def _process_age() -> float:
    """Seconds since this process started (Linux /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)


def ensure_inputs(kind: str, seed: int) -> str:
    """Generate (or reuse) the seeded inputs; returns their directory."""
    tag = f"corpus-{CORPUS_MB:g}mb" if kind == "corpus" else f"tables-sf{SF:g}"
    path = os.path.join(ROOT, ".perfbench", "cache", f"{tag}-seed{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    if kind == "corpus":
        gen.write_corpus(tmp, seed, CORPUS_MB)
    else:
        gen.write_tables(tmp, seed, SF)
    try:
        os.replace(tmp, path)
    except OSError:  # another run published the same seed first
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def isolate(run_dir: str, cpus: int) -> None:
    """Point every engine and JVM scratch location into ``run_dir``, and
    work there (for ``spark-warehouse/``)."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "work")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData "
            # a fixed set of JIT threads, so work_cpu_s() sees all of them
            "-XX:-UseDynamicNumberOfCompilerThreads "
            "-Dspark.ui.showConsoleProgress=false"
        ),
    })
    tempfile.tempdir = None
    os.chdir(dirs["work"])


def resolve(names: list[str]) -> dict[str, tuple[str, object]]:
    """name -> (family, fn(spark, sf_dir) -> DataFrame)."""
    from mapreduce_wordcounter_spark import cli
    from mapreduce_wordcounter_spark.registry import all_queries

    queries = all_queries()
    out = {}
    for name in names:
        if name == "count_words":
            out[name] = ("cli", lambda spark, d: cli.count_words(spark, gen.corpus_files(d)))
            continue
        fn = queries[name]
        out[name] = (fn.__module__.split(".", 1)[1].removeprefix("operators."), fn)
    return out


class Client:
    """One closed-loop client: runs queries one after another and keeps
    the tallies (and, when traced, the per-layer accounting)."""

    def __init__(self, cpus: int, rec=None) -> None:
        self.cpus = cpus
        self.rec = rec
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = collections.defaultdict(float)

    def run(self, spark, name: str, family: str, fn, sf_dir: str, collect=False):
        """Run one query; returns (wall seconds, CPU seconds, pandas
        result or None)."""
        self.attempted += 1
        cpu0 = work_cpu_s()
        t0 = time.perf_counter()
        pdf = None
        try:
            if self.rec is not None:
                pdf = self._run_traced(spark, name, family, fn, sf_dir, collect)
            else:
                pdf = _sink(fn(spark, sf_dir), collect)
        except Exception as exc:  # noqa: BLE001 -- counted, reported, run continues
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
        wall = time.perf_counter() - t0
        return wall, work_cpu_s() - cpu0, pdf

    def _run_traced(self, spark, name, family, fn, sf_dir, collect):
        rec = self.rec
        rec.qid = f"{self.attempted}:{name}"
        sc = spark.sparkContext
        dag = sc._jsc.sc().dagScheduler()
        with rec.span("query"):
            j0 = dag.numTotalJobs()
            with rec.span(f"operators.{family}") as build:
                df = fn(spark, sf_dir)
            j1 = dag.numTotalJobs()
            with rec.span("catalyst.plan") as plan:
                df._jdf.queryExecution().executedPlan()
            with rec.span("execute") as execute:
                pdf = _sink(df, collect)
        j2 = dag.numTotalJobs()
        self.layer[f"operators.{family}.build_s"] += build[0]
        self.layer[f"operators.{family}.build_jobs"] += j1 - j0
        self.layer["catalyst.plan_s"] += plan[0]
        self.layer["execute.s"] += execute[0]
        self.layer["execute.jobs"] += j2 - j1
        self._stage_totals(sc, range(j1, j2))
        return pdf

    def _stage_totals(self, sc, job_ids) -> None:
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), sc.statusTracker()
        empty = sc._jvm.java.util.ArrayList()
        no_q = sc._gateway.new_array(sc._jvm.double, 0)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                attempts = store.stageData(sid, False, empty, False, no_q)
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    if st.status().toString() == "SKIPPED":
                        continue
                    self.layer["execute.stages"] += 1
                    self.layer["execute.tasks"] += st.numCompleteTasks()
                    self.layer["execute.task_s"] += st.executorRunTime() / 1000.0
                    self.layer["execute.shuffle_read_bytes"] += st.shuffleReadBytes()
                    self.layer["execute.shuffle_write_bytes"] += st.shuffleWriteBytes()
                    self.layer["execute.spill_bytes"] += st.diskBytesSpilled()


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, or None if the
    process or thread has exited."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def work_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant -- the Spark JVM and its Python workers -- including
    the children they have already reaped, but not by the JVM's JIT
    compiler threads: how much compiling lands in a query depends on
    timing, not on the query (Linux /proc)."""
    me = os.getpid()
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        st = _stat(f"/proc/{entry}/stat") if entry.isdigit() else None
        if st is not None:
            parent[int(entry)] = int(st[1][1])
            ticks[int(entry)] = sum(int(x) for x in st[1][11:15])  # utime stime cutime cstime
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p != me:
            continue
        total += t
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None and st[0].startswith(JIT_THREADS):
                total -= int(st[1][11]) + int(st[1][12])
    return total / os.sysconf("SC_CLK_TCK")


def _sink(df, collect: bool):
    """Force full execution: collect to pandas, or the no-op sink."""
    if collect:
        return df.toPandas()
    df.write.format("noop").mode("overwrite").save()
    return None


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000.0


def live_heap_mb(spark) -> float:
    """Driver heap in use right after a full GC: what the driver holds
    (cached relations, pins, broadcasts, status history), without the
    garbage whose amount depends on when the collector last ran."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def shutdown(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def gate(client: Client, sf_dir: str, results: dict) -> list[str]:
    """Compare collected results with their DuckDB oracles."""
    from mapreduce_wordcounter_spark.registry import all_oracles

    oracles = all_oracles()
    con = oracle.duck_connect(sf_dir)
    bad = []
    for name, pdf in results.items():
        if pdf is None:
            continue  # raised; already counted
        sql = oracles["wc_counts" if name == "count_words" else name]
        why = oracle.mismatch(pdf, con.execute(sql).fetchdf())
        if why is not None:
            client.failed += 1
            bad.append(f"{name}: {why}")
    con.close()
    return bad


def main(argv=None) -> int:
    t_start = time.perf_counter() - _process_age()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: {PACKAGE}/ not found next to perfbench/; run from a "
              f"source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    kind, _, names = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    inputs = ensure_inputs(kind, args.seed)
    cpus = os.cpu_count() or 4
    run_dir = os.path.join(ROOT, ".perfbench", "runs", uuid.uuid4().hex)
    try:
        return _run(args, names, inputs, run_dir, cpus, t_start, t0)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, names, inputs, run_dir, cpus, t_start, t_inputs) -> int:
    isolate(run_dir, cpus)
    sf_dir = os.path.join(run_dir, "data")
    shutil.copytree(inputs, sf_dir)
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(run_dir, "index")
    # Input generation and copying are not set-up of the program.
    t_setup0 = t_start + (time.perf_counter() - t_inputs)

    rec = None
    streams = None
    if args.trace:
        import spans

        rec = spans.Recorder()
        spans.install(rec)
        streams = spans.StreamCounter()
    client = Client(cpus, rec)

    from mapreduce_wordcounter_spark import get_spark, session

    spark = get_spark("perfbench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if streams is not None:
        spark.streams.addListener(streams.listener())
    gc0 = gc_seconds(spark)
    queries = resolve(names)
    results = {
        name: client.run(spark, name, family, fn, sf_dir, collect=True)[2]
        for name, (family, fn) in queries.items()
    }
    setup_s = time.perf_counter() - t_setup0
    if rec is not None:
        setup_layers = take_layers(
            client, rec, streams, 0, 1, gc_seconds(spark) - gc0, len(session._PINNED_DFS)
        )
        mark = len(rec.spans)
    bad = gate(client, sf_dir, results)
    del results

    rng = random.Random(args.seed)
    order = list(queries)
    samples: dict[str, list[tuple[float, float]]] = {name: [] for name in order}
    passes: list[float] = []
    gc_s = 0.0
    pins_end = 0
    live_mb = None
    n_pass = max(MIN_PASSES, round(args.seconds / WORKLOADS[args.workload][1]))
    for _ in range(n_pass):
        spark.catalog.clearCache()
        session.release_pinned()
        spark.sparkContext._jvm.System.gc()
        rng.shuffle(order)
        gc0 = gc_seconds(spark)
        t0 = time.perf_counter()
        for name in order:
            family, fn = queries[name]
            wall, cpu, _ = client.run(spark, name, family, fn, sf_dir)
            samples[name].append((wall, cpu))
        passes.append(time.perf_counter() - t0)
        gc_s += gc_seconds(spark) - gc0
        pins_end += len(session._PINNED_DFS)
        if rec is not None and live_mb is None:  # after the first pass
            live_mb = live_heap_mb(spark)

    ok = not bad and client.failed == 0
    for line in bad + client.errors:
        print(f"FAIL {line}", file=sys.stderr)
    if args.trace:
        metrics = take_layers(client, rec, streams, mark, n_pass, gc_s, pins_end)
        metrics.update(query_metrics(samples))
        metrics.update({f"setup.{k}": v for k, v in setup_layers.items()})
        metrics["session.live_heap_mb"] = (live_mb, "MB")
        metrics["session.driver_peak_rss_mb"] = (jvm_peak_rss_mb(spark), "MB")
        out_dir = os.path.join(ROOT, ".perfbench", "out")
        os.makedirs(out_dir, exist_ok=True)
        rec.dump(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "passes": n_pass,
             "metrics": metrics},
        )
    else:
        metrics = end_to_end(setup_s, samples)
    shutdown(spark)

    fail_share = client.failed / max(client.attempted, 1)
    print(f"# workload={args.workload} seed={args.seed} cpus={client.cpus} "
          f"passes={n_pass} samples={n_pass * len(samples)} fail_share={fail_share:.4f}")
    for name, ts in samples.items():
        print(f"# query {name} wall/cpu s: " + " ".join(f"{w:.3f}/{c:.2f}" for w, c in ts))
    print("# pass walls: " + " ".join(f"{t:.3f}" for t in passes))
    if not args.trace:
        for k, (v, u) in query_metrics(samples).items():
            print(f"# {k} = {v:.6g} {u}")
    for k, (v, u) in metrics.items():
        print(f"# {k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": ok,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ok else 1


def _pass_stats(samples: dict, i: int) -> tuple[float, float, float]:
    """(pass, p50, p90) of field ``i`` of the samples, from each query's
    best (least) value over the timed passes: the pass is the sum of
    those, the percentiles are taken across queries. What other tenants
    of the machine add to a sample only ever makes it larger."""
    best = [min(s[i] for s in ts) for ts in samples.values()]
    q = statistics.quantiles(best, n=10, method="inclusive")
    return sum(best), statistics.median(best), q[8]


def end_to_end(setup_s: float, samples: dict) -> dict:
    """End-to-end metrics, name -> (value, unit): the set-up wall and
    the CPU seconds a pass of the queries costs the client, the JVM and
    its workers (``samples``: query -> [(wall, cpu)] per timed pass)."""
    return {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (_pass_stats(samples, 1)[0], "s"),
    }


def query_metrics(samples: dict) -> dict:
    """The query percentiles, and the pass over wall time. A percentile
    rests on one or two queries' values, so it spreads from run to run
    more than a whole pass does; these are not end-to-end metrics."""
    _, cpu_p50, cpu_p90 = _pass_stats(samples, 1)
    pass_s, p50, p90 = _pass_stats(samples, 0)
    return {
        "cpu.query_p50_s": (cpu_p50, "s"),
        "cpu.query_p90_s": (cpu_p90, "s"),
        "wall.pass_s": (pass_s, "s"),
        "wall.query_p50_s": (p50, "s"),
        "wall.query_p90_s": (p90, "s"),
    }


def take_layers(client, rec, streams, mark, n_pass, gc_s, pins_end) -> dict:
    """Per-layer metrics, per pass, of the window that began at span
    ``mark``; then resets the tallies for the next window."""
    time.sleep(0.5)  # let the last streaming progress events arrive
    out = layer_metrics(client, rec, streams, mark, n_pass, gc_s, pins_end)
    client.layer.clear()
    rec.counts.clear()
    streams.reset()
    return out


def layer_metrics(client, rec, streams, mark, n_pass, gc_s, pins_end) -> dict:
    per = 1.0 / n_pass
    lay = client.layer
    cnt = rec.counts
    totals = rec.layer_totals(mark)

    def self_s(span: str) -> float:
        return totals.get(span, (0.0, 0.0))[1]

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    out: dict[str, tuple[float, str]] = {}
    for fam in FAMILIES:
        out[f"operators.{fam}.build_s"] = (lay[f"operators.{fam}.build_s"] * per, "s")
        out[f"operators.{fam}.build_jobs"] = (lay[f"operators.{fam}.build_jobs"] * per, "count")
    out["operators.build_self_s"] = (
        sum(self_s(f"operators.{fam}") for fam in FAMILIES) * per, "s")
    out["catalyst.plan_s"] = (lay["catalyst.plan_s"] * per, "s")
    out["execute.s"] = (lay["execute.s"] * per, "s")
    for k, u in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                 ("task_s", "s"), ("shuffle_read_bytes", "B"),
                 ("shuffle_write_bytes", "B"), ("spill_bytes", "B")):
        out[f"execute.{k}"] = (lay[f"execute.{k}"] * per, u)
    out["execute.core_util"] = (
        ratio(lay["execute.task_s"], lay["execute.s"] * client.cpus), "ratio")

    out["tables.load_table_calls"] = (cnt["tables.load_table.calls"] * per, "count")
    out["tables.table_rows_calls"] = (cnt["tables.table_rows.calls"] * per, "count")
    out["tables.table_rows_jobs"] = (cnt["tables.table_rows.misses"] * per, "count")
    out["tables.table_rows_miss_ratio"] = (
        ratio(cnt["tables.table_rows.misses"], cnt["tables.table_rows.calls"]), "ratio")
    out["tables.spread_narrow_scan_s"] = (self_s("tables.spread_narrow_scan") * per, "s")
    out["tables.spread_width_mean"] = (
        ratio(cnt["tables.spread_width_sum"], cnt["tables.spread_narrow_scan.calls"]), "count")
    out["tables.load_table_s"] = (self_s("tables.load_table") * per, "s")

    out["session.pin_calls"] = (cnt["session.pin.calls"] * per, "count")
    out["session.pins_live_end"] = (pins_end * per, "count")
    out["session.jvm_gc_s"] = (gc_s * per, "s")

    lookups = cnt["sources.index_catalog.lookup.calls"]
    hits = cnt["sources.index_catalog.lookup.hits"]
    out["sources.index_catalog.lookup_calls"] = (lookups * per, "count")
    out["sources.index_catalog.lookup_hits"] = (hits * per, "count")
    out["sources.index_catalog.hit_ratio"] = (ratio(hits, lookups), "ratio")
    out["sources.index_catalog.publish_calls"] = (
        cnt["sources.index_catalog.publish.calls"] * per, "count")
    for side in ("write", "read"):
        name = f"sources.versioned.{side}"
        out[f"{name}_s"] = (self_s(name) * per, "s")
        out[f"{name}_calls"] = (cnt[f"{name}.calls"] * per, "count")

    out["streaming.batches"] = (streams.batches * per, "count")
    out["streaming.add_batch_s"] = (streams.add_batch_ms / 1000.0 * per, "s")
    out["streaming.batch_other_s"] = (streams.other_ms / 1000.0 * per, "s")
    return out

if __name__ == "__main__":
    sys.exit(main())

"""Benchmark for memory_engine_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run it from the repository root. It writes seeded input tables under
``perfbench/.work/``, starts one local Spark session with the package's
own configuration (``session.get_spark``), sets up the workload, checks
outputs, then measures for at least ``--seconds`` seconds: batch
workloads in whole passes over their operations, serve workloads for at
least ``MIN_REQUESTS`` requests. A traced run measures a window of fixed
length instead (one pass, or exactly ``MIN_REQUESTS`` requests), so its
counts do not depend on speed. The last line of standard output
is one JSON result; the line before it is a full report (per-operation
samples, failure reasons, host settings, per-layer detail), also
written under ``perfbench/results/``.

Workloads:
  batch         registry graph queries (plan build with eager actions),
                then the ingest pipeline plus dedup and payload-decoding
                queries
  serve_write   MCP reads against a MemoryEngine from one closed-loop
                client, with every tenth request an update_rating

End-to-end metrics (``--trace 0``):
  setup_s       median of three cold builds of the workload's registry
                indexes or engine, plus the checked warm-up pass
  pass_s        sum over operation kinds of each kind's median time; a
                failed operation counts as at least ``DEADLINE_S``
  op_s.geomean  geometric mean of the per-kind median times

``--trace 1`` wraps every package module in layer spans (see
``spans.py``) and reports per-layer metrics instead. ``--workload all``
runs the listed workloads untraced and traced, each in its own process,
and prints the tracing overhead.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ["batch", "serve_write"]
SETUP_REPEATS = 3
DEADLINE_S = 60.0
MAX_DRIVER_MEM_MB = 4096
REPO_ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")

# Layers measured in traced runs: package module -> layer name.
LAYER_OF = {
    "__spark_entry__": "registry",
    "memory_engine_spark.session": "session",
    "memory_engine_spark.engine": "engine",
    "memory_engine_spark.checkpoint": "checkpoint",
    "memory_engine_spark.plugins": "plugins",
}
LAYER_PREFIXES = {
    "memory_engine_spark.plans.": "plans",
    "memory_engine_spark.functions.": "functions",
    "memory_engine_spark.streaming.": "streaming",
}
DATAFRAME_ACTIONS = ("collect", "count", "first", "take", "head", "tail",
                     "toPandas", "isEmpty", "toLocalIterator", "foreach",
                     "foreachPartition", "localCheckpoint", "checkpoint",
                     "show")
WRITER_ACTIONS = ("save", "parquet", "json", "csv", "saveAsTable",
                  "insertInto")
INDEX_BUILDERS = {   # registry index builders, as prepare_indexes lists them
    "tables": "_t", "edges": "_edges", "ivf16": "_ivf", "pq16_8": "_pq",
    "pagerank": "_pr_index", "lpa": "_lpa_prep", "sym_adj": "_sym_adj",
    "dsir": "_dsir_feats", "knn_graph": "_knn_graph", "aa50": "_aa_index",
    "dir_adj": "_dir_adj", "weighted_adj": "_weighted_adj",
    "hnsw16": "_hnsw_index", "probe_feats": "_probe_feats",
    "int8": "_int8_codes", "int8c": "_int8_cells",
}
# Module layers whose per-layer metrics the result carries.
REPORTED_LAYERS = [
    "registry", "session", "engine", "plans", "checkpoint",
    "operators.graph", "operators.components", "operators.dedup",
    "operators.similarity", "operators.text", "operators.corpus",
    "operators.multimodal", "operators.ingestion", "operators.merging",
    "operators.ranking", "operators.sorting", "operators.discovery",
    "sources.formats",
]


# -- host settings -----------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def host_settings() -> dict:
    """Pin the Spark parallelism to the host's cores and the Spark driver
    heap below its RAM, and keep every temporary file inside the
    repository directory.
    Program confs stay as shipped."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    mem_mb = min(MAX_DRIVER_MEM_MB, ram_mb // 3)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {"SPARK_GRAFT_CPUS": str(cpus),
           "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
           "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
           "TMPDIR": tmp,
           "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
           "PYSPARK_PYTHON": sys.executable}
    os.environ.update(env)
    return dict(env, host_cpus=cpus, host_ram_mb=ram_mb)


# -- operations --------------------------------------------------------------

class Bench:
    """Runs operations one at a time: one job group each, timed,
    checked, and (traced) with their Spark counters collected."""

    def __init__(self, spark, spark_stats, tracer, registry):
        self.spark, self.stats, self.tracer = spark, spark_stats, tracer
        self.registry = registry
        self.outcomes = stats.Outcomes(DEADLINE_S)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.wrong = 0
        self.checked: set[str] = set()
        self.own_s = 0.0        # checks and counter reads: not program time
        self.seq = 0
        self.spark_totals: dict[str, float] = defaultdict(float)
        self.jobs_by_kind: dict[str, float] = defaultdict(float)
        self.baseline_rdds: set[int] = set()
        self.evictions0 = 0
        self.leaked_max = 0

    def _alive(self) -> bool:
        try:
            self.spark.sparkContext.statusTracker().getActiveJobsIds()
            return True
        except Exception:
            return False

    def op(self, kind: str, fn, measured: bool = False, check=None):
        """Run ``fn``; on success run ``check(result)`` (untimed). Returns
        the result, or None when the operation failed. A measured
        operation adds a sample to its kind; a failed one adds its time
        or ``DEADLINE_S``, whichever is longer, so failures never make a
        kind faster or take it out of the result."""
        if self.outcomes.session_lost:
            self.outcomes.record(0.0, "after lost session")
            if measured:
                self.samples[kind].append(DEADLINE_S)
            return None
        self.seq += 1
        self.stats.begin(f"pb{self.seq}-{kind}")
        err, out = None, None
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # any failure of the program is counted
            err = f"{type(exc).__name__}: {exc}"
        elapsed = time.perf_counter() - t0
        if err is None and check is not None:
            t1 = time.perf_counter()
            try:
                check(out)
                self.checked.add(kind)
            except wl.CheckFailed as exc:
                err = f"wrong answer: {exc}"
                self.wrong += 1
            self.own_s += time.perf_counter() - t1
        ok = self.outcomes.record(elapsed, err)
        if err is not None:
            print(f"# op failed: {kind}: {err[:300]}", file=sys.stderr)
            if not self._alive():
                self.outcomes.lose_session()
        if measured:
            self.samples[kind].append(elapsed if ok
                                      else max(elapsed, DEADLINE_S))
        if self.tracer is not None and not self.outcomes.session_lost:
            self._collect_counters(kind)
        return out if ok else None

    def _collect_counters(self, kind: str) -> None:
        t1 = time.perf_counter()
        self.stats.settle()
        c = self.stats.group_counters()
        for k, v in c.items():
            self.spark_totals[k] += v
        self.jobs_by_kind[kind] += c["jobs"]
        leaked = (self.stats.persistent_rdd_ids() - self.baseline_rdds
                  - self.registry.pinned_rdd_ids())
        self.leaked_max = max(self.leaked_max, len(leaked))
        self.own_s += time.perf_counter() - t1

    def start_window(self, report: dict) -> None:
        """The measured window starts. RDDs persisted so far belong to
        the set-up (indexes, engine tables); later ones outside the
        registry's pins count as leaked. Traced counters restart, so
        per-layer metrics cover the window only; the set-up's counters
        are kept in the report."""
        self.baseline_rdds = self.stats.persistent_rdd_ids()
        self.evictions0 = len(self.registry.EVICTION_LOG)
        if self.tracer is not None:
            report["setup_counters"] = dict(self.tracer.counters)
            self.tracer.reset()
            self.spark_totals.clear()
            self.jobs_by_kind.clear()


def run_window(bench: Bench, seconds: float, per_pass: int, send,
               min_ops: int = 0) -> int:
    """Closed loop: ``send(i)`` runs operation i when operation i-1 has
    returned. It stops once ``seconds`` have passed, the last pass of
    ``per_pass`` operations is complete and at least ``min_ops`` were
    sent. After a lost session the rest of the pass is still sent, and
    fails. At least one pass is sent. Returns the number sent."""
    end = time.perf_counter() + seconds
    sent = 0
    while time.perf_counter() < end or sent % per_pass \
            or sent < max(per_pass, min_ops):
        if bench.outcomes.session_lost and not sent % per_pass:
            break
        send(sent)
        sent += 1
    return sent


def fresh_dataset(base: str, name: str) -> str:
    """Copy the generated tables to a new directory name, so the
    registry's derived indexes (``.derived/<name>``) start absent."""
    dest = os.path.join(WORK, name)
    shutil.rmtree(dest, ignore_errors=True)
    shutil.rmtree(os.path.join(REPO_ROOT, ".derived", name),
                  ignore_errors=True)
    shutil.copytree(base, dest)
    return dest


def registry_op(bench: Bench, qs, name: str, sf_dir: str, collect: bool):
    """Plan build (the query function, with any eager actions it runs),
    then the final action: a noop-sink write, or a collect for checking."""
    tracer, st = bench.tracer, bench.stats

    def run():
        if tracer is None:
            df = qs[name](bench.spark, sf_dir)
        else:
            j0, t0 = st.job_count(), time.perf_counter()
            with tracer.span("registry"):
                df = qs[name](bench.spark, sf_dir)
            tracer.add("registry.build_s", time.perf_counter() - t0)
            tracer.add("registry.build_jobs", st.job_count() - j0)
            j0 = st.job_count()
        if collect:
            out = (df.columns, df.collect())
        else:
            df.write.mode("overwrite").format("noop").save()
            out = None
        if tracer is not None:
            tracer.add("registry.action_jobs", st.job_count() - j0)
        return out
    return run


def ingest_op(bench: Bench, sf_dir: str, collect: bool):
    def run():
        df = wl.ingest_frame(bench.spark, sf_dir)
        if collect:
            return df.collect()
        df.write.mode("overwrite").format("noop").save()
        return None
    return run


# -- workloads ---------------------------------------------------------------

def load_rows_key():
    """``rows_key`` (canonical rows) from tools/oracle_check.py. It puts
    a fixed path first on sys.path when imported; sys.path is restored
    so later imports keep resolving inside this repository."""
    import importlib.util

    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "oracle_check",
            os.path.join(REPO_ROOT, "tools", "oracle_check.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.rows_key


def window_seconds(bench: Bench, seconds: float) -> float:
    """Untraced runs measure for ``seconds``; traced runs measure the
    shortest window (one pass, or ``MIN_REQUESTS`` requests)."""
    return 0.0 if bench.tracer is not None else seconds


def run_batch(bench: Bench, workload: str, base: str, seed: int,
              seconds: float, report: dict) -> None:
    import pyarrow.parquet as pq

    registry = bench.registry
    qs = registry.queries()
    names = wl.BATCH_OPS
    texts = pq.read_table(os.path.join(base, "documents.parquet"),
                          columns=["text"]).column("text").to_pylist()
    oracle = wl.Oracle(base, registry.oracle_sql(), load_rows_key())

    def op_fn(name, sf_dir, collect):
        if name == wl.INGEST:
            return ingest_op(bench, sf_dir, collect)
        return registry_op(bench, qs, name, sf_dir, collect)

    def check_fn(name):
        if name == wl.INGEST:
            return lambda rows: wl.check_ingest(rows, texts)
        return lambda out: oracle.check(name, *out)

    # Set-up, repeated: from a new dataset name, so the derived indexes
    # start absent, build the registry indexes the workload reads. The
    # last dataset is kept, and one untimed pass over it collects every
    # output and checks it; that pass also runs each query's first,
    # cold execution.
    prepare, skipped = [], []
    sf_dir = None
    for r in range(SETUP_REPEATS):
        if r:
            registry.drop_all_pins(bench.spark)
            gc.collect()
        sf_dir = fresh_dataset(base, f"pb-{workload}-s{seed}-r{r}")
        t0 = time.perf_counter()
        for index in wl.PREPARE:
            builder = getattr(registry, INDEX_BUILDERS[index], None)
            if builder is None:
                skipped.append(index)
                continue
            bench.op(f"prepare.{index}",
                     lambda b=builder: b(bench.spark, sf_dir))
        prepare.append(time.perf_counter() - t0)
    own_before = bench.own_s
    t0 = time.perf_counter()
    for name in names:
        bench.op(name, op_fn(name, sf_dir, True), check=check_fn(name))
    warmup_s = time.perf_counter() - t0 - (bench.own_s - own_before)
    oracle.close()
    report.update(prepare_repeats_s=prepare, prepare_skipped=sorted(set(
        skipped)), warmup_s=warmup_s,
        setup_state="derived indexes absent at the start of every "
                    "set-up repeat (always built, never loaded)")
    report["setup_s"] = stats.median(prepare) + warmup_s
    bench.start_window(report)

    # whole passes, so every operation has the same number of samples
    report["ops_sent"] = run_window(
        bench, window_seconds(bench, seconds), len(names),
        lambda i: bench.op(names[i % len(names)],
                           op_fn(names[i % len(names)], sf_dir, False),
                           measured=True))
    if bench.samples.get(wl.INGEST):
        report["docs_per_s"] = len(texts) / stats.median(
            bench.samples[wl.INGEST])


def run_serve(bench: Bench, base: str, seed: int, seconds: float,
              report: dict) -> None:
    spark = bench.spark
    builds = []
    engine = None
    for _ in range(SETUP_REPEATS):
        if engine is not None:
            for t in ("nodes", "edges"):
                engine.s.table(t).unpersist(True)
        t0 = time.perf_counter()
        engine, n_nodes, n_edges = wl.build_engine(spark, base)
        builds.append(time.perf_counter() - t0)
    node_ids = sorted(r[0] for r in
                      engine.s.table("nodes").select("node_id").collect())
    report.update(nodes=n_nodes, edges=n_edges, prepare_repeats_s=builds,
                  setup_state="engine tables built and persisted anew "
                              "in every set-up repeat")

    model = wl.ServeModel()

    def send(kind, cmd, measured):
        return bench.op(kind, lambda: engine.execute_command(cmd),
                        measured=measured,
                        check=lambda reply: model.check(cmd, reply))

    # Warm-up: the stream's first requests, one of each read kind.
    stream = wl.request_stream(seed, node_ids)
    own_before = bench.own_s
    t0 = time.perf_counter()
    for _ in wl.READ_KINDS:
        send(*next(stream), measured=False)
    warmup_s = time.perf_counter() - t0 - (bench.own_s - own_before)
    report["warmup_s"] = warmup_s
    report["setup_s"] = stats.median(builds) + warmup_s
    bench.start_window(report)

    plan_nodes = []

    def request(_):
        kind, cmd = next(stream)
        reply = send(kind, cmd, measured=True)
        if kind == wl.WRITE_KIND and reply is not None:
            model.wrote(cmd)
            if bench.tracer is not None:
                plan_nodes.append(bench.stats.plan_nodes(
                    engine.s.table("nodes")._jdf))
            # read-your-write check, not timed
            send("get_node", {"action": "get_node",
                              "node_id": cmd["node_id"]}, measured=False)
    report["requests"] = run_window(bench, window_seconds(bench, seconds),
                                    1, request, min_ops=wl.MIN_REQUESTS)
    report["nodes_plan_nodes_after_writes"] = plan_nodes


# -- tracing -----------------------------------------------------------------

def instrument(spark, tracer, registry):
    """Wrap every package module, the registry and PySpark's actions in
    layer spans, with counters for session cache lookups, checkpoint
    blocks and registry index builds."""
    import importlib
    import pkgutil

    import memory_engine_spark
    from spans import Instrumentation

    def add(counter, value_of):
        return lambda args, kwargs, out, secs: tracer.add(
            counter, value_of(args, out, secs))

    def cache_lookup(args, kwargs, out, secs):
        tracer.add("session.cache_lookups")
        tracer.add("session.cache_hits", out is not None)

    hooks = {
        "registry": {fn: add(f"registry.prepare_s.{index}",
                             lambda a, o, secs: secs)
                     for index, fn in INDEX_BUILDERS.items()},
        "session": {"cached": cache_lookup},
        "checkpoint": {
            "lc_tracked": add("checkpoint.created", lambda a, o, s: len(o[1])),
            "lc": add("checkpoint.created", lambda a, o, s: 1),
            "lc_lazy": add("checkpoint.created", lambda a, o, s: 1),
            "lc_free": add("checkpoint.freed", lambda a, o, s: len(a[1])),
        },
    }

    inst = Instrumentation(tracer)
    inst.wrap_module(registry, "registry", hooks=hooks["registry"],
                     skip={"queries", "oracle_sql", "entry"})
    for info in pkgutil.walk_packages(memory_engine_spark.__path__,
                                      "memory_engine_spark."):
        layer = layer_of(info.name)
        if layer is not None:
            inst.wrap_module(importlib.import_module(info.name), layer,
                             hooks=hooks.get(layer))
    inst.rebind(("memory_engine_spark", "__spark_entry__"))

    df = spark.range(1)
    for cls, names in ((type(df), DATAFRAME_ACTIONS),
                       (type(df.write), WRITER_ACTIONS)):
        for name in names:
            owner = next((k for k in cls.__mro__ if name in vars(k)), None)
            if owner is not None:
                inst.wrap_function(owner, name, "spark.action")
    return inst


def layer_of(module_name: str) -> str | None:
    """Layer of a package module: ``operators.graph``, ``session``, ..."""
    if module_name in LAYER_OF:
        return LAYER_OF[module_name]
    for prefix, layer in LAYER_PREFIXES.items():
        if module_name.startswith(prefix):
            return layer
    parts = module_name.split(".")
    return ".".join(parts[1:]) if len(parts) == 3 else None


# -- result ------------------------------------------------------------------

def end_to_end(bench: Bench, report: dict) -> dict:
    medians = {k: stats.median(v) for k, v in bench.samples.items()}
    report["op_median_s"] = medians
    report["op_samples_s"] = dict(bench.samples)
    every = [x for v in bench.samples.values() for x in v]
    report["latency_s"] = {"p50": stats.percentile(every, 50),
                           "p90": stats.percentile(every, 90),
                           "samples": len(every)}
    report["resident_mb"] = bench.stats.resident_mb()
    return {
        "setup_s": (report["setup_s"], "s"),
        "pass_s": (sum(medians.values()), "s"),
        "op_s.geomean": (stats.geomean(medians.values()), "s"),
    }


def per_layer(bench: Bench, tracer, report: dict, e2e: dict) -> dict:
    """Per-layer metrics of a traced run. The result carries the ones
    that are counts, ratios or sizes, plus the times of layers every
    workload uses; the report's ``layer_metrics`` adds every module's
    self time (zero where a workload leaves a module idle)."""
    from spans import layer_totals

    totals = layer_totals(tracer.spans)
    report["layers"] = totals
    c, sp = tracer.counters, bench.spark_totals
    registry = bench.registry

    def layer(name):
        return totals.get(name, {"self_s": 0.0, "calls": 0, "jobs": 0})

    def ratio(a, b):
        return a / b if b else 0.0

    out = {f"{name}.jobs": (layer(name)["jobs"], "count")
           for name in REPORTED_LAYERS}
    out.update({
        "checkpoint.self_s": (layer("checkpoint")["self_s"], "s"),
        "spark.action_s": (layer("spark.action")["self_s"], "s"),
        "spark.plan_s": (sp["plan_s"], "s"),
        "spark.executor_run_s": (sp["executor_run_s"], "s"),
        "spark.python_eval_share": (
            ratio(sp["python_eval_s"], sp["executor_run_s"]), "ratio"),
        "spark.jobs": (sp["jobs"], "count"),
        "spark.stages": (sp["stages"], "count"),
        "spark.tasks": (sp["tasks"], "count"),
        "spark.tasks_failed": (sp["tasks_failed"], "count"),
        "spark.shuffle_read_mb": (sp["shuffle_read_mb"], "MB"),
        "spark.shuffle_write_mb": (sp["shuffle_write_mb"], "MB"),
        "spark.spill_mb": (sp["spill_mb"], "MB"),
        "registry.build_jobs": (c.get("registry.build_jobs", 0), "count"),
        "registry.action_jobs": (c.get("registry.action_jobs", 0), "count"),
        "session.cache_hit_ratio": (ratio(c.get("session.cache_hits", 0),
                                          c.get("session.cache_lookups", 0)),
                                    "ratio"),
        "session.nodes_plan_nodes": (plan_nodes_after_second_write(report),
                                     "count"),
        "checkpoint.calls": (layer("checkpoint")["calls"], "count"),
        "checkpoint.freed_ratio": (ratio(c.get("checkpoint.freed", 0),
                                         c.get("checkpoint.created", 0)),
                                   "ratio"),
        "pins.resident_mb": (sum(registry.pinned_cache_sizes(
            bench.spark).values()) / (1 << 20), "MB"),
        "pins.evictions": (len(registry.EVICTION_LOG) - bench.evictions0,
                           "count"),
        "rdd.leaked": (bench.leaked_max, "count"),
        "trace.pass_s": (e2e["pass_s"][0], "s"),
    })
    for kind in wl.SERVE_KINDS:
        out[f"engine.jobs.{kind}"] = (bench.jobs_by_kind.get(kind, 0),
                                      "count")
    detail = {k: v for k, (v, _) in out.items()}
    for name in REPORTED_LAYERS:
        detail[f"{name}.self_s"] = layer(name)["self_s"]
        detail[f"{name}.calls"] = layer(name)["calls"]
    detail["spark.python_eval_s"] = sp["python_eval_s"]
    detail.update({k: v for k, v in c.items()
                   if k.startswith(("registry.", "checkpoint."))})
    detail.update({k: v for k, v in report.get("setup_counters", {}).items()
                   if k.startswith("registry.prepare_s.")})
    report["layer_metrics"] = detail
    return out


def plan_nodes_after_second_write(report: dict) -> int:
    """Operator count of the ``nodes`` plan after the window's second
    write (0 when it made fewer): a fixed point of the request stream,
    so the count does not depend on how many requests a run sends."""
    sizes = report.get("nodes_plan_nodes_after_writes") or []
    return sizes[1] if len(sizes) > 1 else 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def cleanup(workload: str, seed: int) -> None:
    derived = os.path.join(REPO_ROOT, ".derived")
    if os.path.isdir(derived):
        for name in os.listdir(derived):
            if name.startswith(f"pb-{workload}-s{seed}-"):
                shutil.rmtree(os.path.join(derived, name), ignore_errors=True)
    shutil.rmtree(WORK, ignore_errors=True)


def run(args) -> tuple[dict, dict]:
    if not os.path.isfile(os.path.join(REPO_ROOT, "__spark_entry__.py")):
        raise SystemExit("run from the repository root: __spark_entry__.py "
                         "not found in the working directory")
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host": host_settings()}
    steal0, total0 = cpu_ticks()
    sys.path.insert(0, REPO_ROOT)
    base = datagen.write(args.seed, os.path.join(WORK, f"base-s{args.seed}"))

    import __spark_entry__ as registry
    from memory_engine_spark.session import get_spark
    from sparkstats import SparkStats

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    report["session_start_s"] = time.perf_counter() - t0
    spark_stats = SparkStats(spark)
    tracer = None
    try:
        if args.trace:
            from spans import Tracer
            tracer = Tracer(job_count=spark_stats.job_count)
            instrument(spark, tracer, registry)
            spark_stats.listen_planning()
        bench = Bench(spark, spark_stats, tracer, registry)
        wall0 = time.perf_counter()
        if args.workload == "batch":
            run_batch(bench, args.workload, base, args.seed, args.seconds,
                      report)
        else:
            run_serve(bench, base, args.seed, args.seconds, report)
        report["workload_wall_s"] = time.perf_counter() - wall0
        metrics = end_to_end(bench, report)
        if tracer is not None:
            metrics = per_layer(bench, tracer, report, metrics)
    finally:
        spark_stats.close()
        stop_spark(spark)
    steal1, total1 = cpu_ticks()
    # CPU time taken by other guests on a shared host during this run
    report["host"]["cpu_steal_share"] = (steal1 - steal0) / max(
        1, total1 - total0)
    o = bench.outcomes
    report["error_rate"] = o.error_rate
    report["failure_reasons"] = o.reasons
    missing = set(wl.BATCH_OPS if args.workload == "batch"
                  else wl.READ_KINDS) - bench.checked
    report["unchecked_ops"] = sorted(missing)
    return report, {
        "correct": bench.wrong == 0 and not missing and o.attempted > 0,
        "attempted": o.attempted,
        "failed": o.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def run_all(args) -> int:
    """Every workload, untraced then traced, each run in its own
    process. Prints each result line, then a summary with the tracing
    overhead: traced pass time minus untraced pass time."""
    summary, code = {}, 0
    for name in WORKLOADS:
        results = {}
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload",
                 name, "--seed", str(args.seed), "--seconds",
                 str(args.seconds), "--trace", str(trace)],
                capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                code = proc.returncode or 1
                print(f"{name} trace={trace}: failed\n{proc.stderr[-2000:]}")
                continue
            print(f"{name} trace={trace}: {lines[-1]}", flush=True)
            results[trace] = json.loads(lines[-1])
        if len(results) == 2:
            untraced = results[0]["metrics"]["pass_s"]["value"]
            traced = results[1]["metrics"]["trace.pass_s"]["value"]
            summary[name] = {"pass_s": untraced, "trace.pass_s": traced,
                             "tracing_overhead_s": traced - untraced}
    print(json.dumps(summary))
    return code


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    try:
        report, result = run(args)
    finally:
        cleanup(args.workload, args.seed)
    report["result"] = result
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{args.workload}-s{args.seed}"
                                 f"-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True, default=str)
    print("# report " + json.dumps(report, sort_keys=True, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

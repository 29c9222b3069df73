#!/usr/bin/env python3
"""Benchmark of grpc_map_reduce_spark, driven through its public API.

    python3 perfbench/run.py --workload {text_pipeline,query_mix} --seed N
                             --seconds S --trace {0,1} [--scale X]

One client in one process issues one job at a time (a closed loop) on
``local[$SPARK_GRAFT_CPUS]``, default ``local[nproc]``.  Inputs are
generated from ``--seed`` (perfbench/gen.py) and every result is checked
against a reference computed before timing starts (perfbench/workloads.py).

``--trace 0`` measures the end-to-end metrics: ``setup_s`` (median of
two ``get_spark()`` calls, each in a fresh JVM, wall clock),
``cold_job_cpu_s`` (CPU time of the first execution of every operation
in a fresh session) and ``job_cpu_s`` (mean CPU time of a warm pass over
the operations).  CPU time is user plus system time of the driver JVM
and the Python processes.  On a shared host it moves less from run to
run than wall time, which the hypervisor's stolen time stretches; wall
times are in the stamp, and per layer.

``--trace 1`` makes one setup and twice the warm passes, traces half of
them, and reports the per-layer metrics, including the wall-clock
``wall.*`` times, the JIT compiler's CPU time and
``trace.overhead_cpu_s`` (traced minus untraced ``job_cpu_s``).  Spans
and a self-time table per layer are written to
perfbench/.out/trace-<workload>-s<seed>.json; the stamp gets
``layer_shares``, the split of the traced operations' wall time between
Spark stages, the driver and operator calls.

The last stdout line is one JSON object with keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it stamps the
run (cores, versions, seed, load average, sample counts).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing as tr  # noqa: E402
import workloads  # noqa: E402

# Two fresh-JVM setups per run: a third adds ~7 s on 4 cores to a run
# that should stay near a minute.
SETUPS = 2
# Nominal warm pass time on 4 cores: a run makes seconds / PASS_S warm
# passes, the same count on every run of the same length (later passes
# cost less as the JIT warms, so a count that varied with speed would bias
# the per-pass figures).
PASS_S = 4.0


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _loadavg() -> float:
    return round(os.getloadavg()[0], 2)


def _cpu_times() -> list[int]:
    """Cumulative CPU time counters of this machine (first line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit, so
    the next ``get_spark()`` starts a fresh one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def _setup(tracer):
    """A fresh session: ``get_spark()`` in a new JVM, until the first job
    can be issued.  Returns the session and the seconds it took."""
    from grpc_map_reduce_spark import get_spark

    t0 = time.perf_counter()
    with tracer.span("session", "get_spark"):
        spark = get_spark("perfbench", cpus=_cpus())
    seconds = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, seconds


def _warm_up(spark, tracer) -> float:
    """One small SQL job before the cold pass (JVM code paths, executor
    threads), so ``cold_job_cpu_s`` is the workload's first-run cost rather
    than the session's.  Python workers start in the first operation that
    needs them, as they do for a user."""
    t0 = time.perf_counter()
    with tracer.span("session", "warm_up"):
        spark.range(10_000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


class Runner:
    def __init__(self, spark, wl, tracer, seed: int):
        self.spark, self.wl, self.tracer = spark, wl, tracer
        self.rng = random.Random(seed)
        self.attempted = self.failed = self.seq = 0
        self.failures: list[str] = []
        self.traced_wall = 0.0
        # per-layer values over traced executions: sums, and maxima
        self.sums: dict[str, float] = {}
        self.maxima: dict[str, float] = {}

    def execute(self, op) -> tuple[float, float, float]:
        """Run, time and check one operation.  Returns its wall time, the
        CPU time the driver JVM and the Python processes spent on it
        outside JIT compilation, and the JIT compiler threads' CPU time."""
        sc = self.spark.sparkContext
        self.seq += 1
        label = f"perfbench:{op.name}#{self.seq}"
        self.attempted += 1
        sc.setJobDescription(label)
        c0 = tr.cpu_snapshot(os.getpid())
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op.name, label=label) as span:
                result = op.run(self.spark, self.tracer)
                wall = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.failed += 1
            self.failures.append(f"{op.name}: {type(exc).__name__}: {exc}"[:300])
            return (time.perf_counter() - t0, *tr.cpu_between(c0, tr.cpu_snapshot(os.getpid())))
        finally:
            sc.setJobDescription(None)
        cpu, jit = tr.cpu_between(c0, tr.cpu_snapshot(os.getpid()))
        reason = op.check(result)
        if reason:
            self.failed += 1
            self.failures.append(f"{op.name}: {reason}"[:300])
        if span is not None:
            self.traced_wall += wall
            self._record_layers(span, label)
        return wall, cpu, jit

    def _add(self, key: str, value: float) -> None:
        self.sums[key] = self.sums.get(key, 0.0) + value

    def _max(self, key: str, value: float) -> None:
        self.maxima[key] = max(self.maxima.get(key, value), value)

    def _record_layers(self, span, label) -> None:
        tr.drain_listener_bus(self.spark)
        stages = tr.stage_records(self.spark, label)
        subtree = self.tracer.spans[span["id"]:]  # spans are sequential: all later ones nest in it
        for s in stages:
            parent = next((c for c in reversed(subtree) if c["start"] <= s["start"] <= c["end"]), span)
            self.tracer.add_child(parent, "stage", f"stage {s['stage']}", s["start"], s["end"],
                                  **{k: v for k, v in s.items() if k not in ("start", "end")})
        busy = tr.union_length((max(s["start"], span["start"]), min(s["end"], span["end"]))
                               for s in stages if s["end"] > span["start"])
        self._add("spark.driver_s", (span["end"] - span["start"]) - busy)
        self._add("spark.jobs", tr.job_count(self.spark, label))
        self._add("spark.stages", len(stages))
        for key in ("tasks", "task_s", "task_cpu_s", "jvm_gc_s", "spill_disk_bytes",
                    "spill_memory_bytes"):
            self._add(f"spark.{key}", sum(s[key] for s in stages))
        self._max("spark.peak_execution_memory_bytes",
                  max((s["peak_execution_memory_bytes"] for s in stages), default=0))
        reduce = [s for s in stages if s["shuffle_read_bytes"] > 0]
        self._add("shuffle.write_bytes", sum(s["shuffle_write_bytes"] for s in stages))
        self._add("shuffle.read_bytes", sum(s["shuffle_read_bytes"] for s in stages))
        self._add("shuffle.fetch_wait_s", sum(s["shuffle_fetch_wait_s"] for s in stages))
        self._add("shuffle.reduce_partitions", sum(s["tasks"] for s in reduce))
        self._max("shuffle.task_skew", max((s["task_skew"] for s in reduce), default=1.0))
        self._add("sources.input_bytes", sum(s["input_bytes"] for s in stages))
        self._add("sources.input_records", sum(s["input_records"] for s in stages))
        rdds, held = tr.pinned(self.spark)
        self._max("plans.pinned_rdds_after", rdds)
        self._max("plans.pinned_bytes_after", held)

    def cold_pass(self) -> dict[str, tuple[float, float, float]]:
        return {op.name: self.execute(op) for op in self.wl.ops}

    def warm_pass(self, samples: dict[str, list[tuple[float, float, float]]]) -> None:
        """One pass over the operations in a seed-shuffled order."""
        order = list(self.wl.ops)
        self.rng.shuffle(order)
        for op in order:
            samples.setdefault(op.name, []).append(self.execute(op))


def _best_wall(samples: dict[str, list[tuple[float, float, float]]]) -> list[float]:
    """Per operation, its least wall time over the warm passes: bursts of
    time stolen by other guests on the host only add time."""
    return [min(x[0] for x in v) for v in samples.values()]


def _cpu_per_pass(samples: dict[str, list[tuple[float, float, float]]]) -> float:
    """Mean CPU time of a warm pass, JIT compilation included.  As the JVM
    warms, how a pass's work splits between interpreted code and the JIT
    compiler, and how much of it falls into which pass, depends on timing;
    the total over a fixed number of passes much less."""
    passes = len(next(iter(samples.values())))
    return sum(c + j for v in samples.values() for _, c, j in v) / passes


def _span_layer_sums(spans: list[dict]) -> dict[str, float]:
    sums: dict[str, float] = {}
    for s in spans:
        if s["layer"] in ("sources", "sinks", "operators"):
            sums[s["layer"]] = sums.get(s["layer"], 0.0) + s["end"] - s["start"]
    return sums


def _sink_outputs(spans: list[dict]) -> tuple[int, int]:
    size = files = 0
    for s in spans:
        if s["layer"] == "sinks" and s["name"] == "write_kv_text" and "path" in s:
            for name in os.listdir(s["path"]):
                if name.startswith("part-"):
                    files += 1
                    size += os.path.getsize(os.path.join(s["path"], name))
    return size, files


def _codec_rates(docs_dir: str) -> dict[str, float]:
    """Single-thread decode throughput of the functions codecs, on
    payloads built from the workload's own documents."""
    import pyarrow.parquet as pq

    from grpc_map_reduce_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from grpc_map_reduce_spark.functions.png import decode_png, encode_png
    from grpc_map_reduce_spark.functions.wav import decode_wav, encode_wav

    texts = pq.read_table(os.path.join(docs_dir, "documents.parquet"), columns=["text"])
    raw = [t.encode()[:1024].ljust(1024, b" ") for t in texts.column("text").to_pylist()[:32]]
    payloads = {
        "jpeg": [encode_jpeg(32, 32, 1, r) for r in raw],
        "png": [encode_png(32, 32, 1, r) for r in raw],
        "wav": [encode_wav(8000, 1, 8, r) for r in raw],
    }
    decoders = {"jpeg": decode_jpeg, "png": decode_png, "wav": decode_wav}
    out = {}
    for codec, items in payloads.items():
        size, n, t0 = sum(map(len, items)), 0, time.perf_counter()
        while n == 0 or time.perf_counter() - t0 < 0.3:
            for p in items:
                decoders[codec](p)
            n += 1
        out[f"functions.{codec}.decode_mb_per_s"] = size * n / (time.perf_counter() - t0) / 1e6
    return out


def _python_counts(spark, docs_dir: str) -> dict[str, float]:
    """Rows and bytes the shingling Arrow UDF of the dedup chain sends
    to Python workers for the workload's documents."""
    from grpc_map_reduce_spark.functions.text import distinct_shingle_hashes_udf
    from grpc_map_reduce_spark.sources.tables import table

    from pyspark.sql import functions as F

    df = table(spark, docs_dir, "documents").select(
        F.size(distinct_shingle_hashes_udf(3)("text")).alias("n")).agg(F.sum("n"))
    df.collect()
    rows, sent = tr.python_exec_metrics(df)
    return {"python.rows": rows, "python.bytes_sent": sent}


def _dedup_counts(spark, docs_dir: str) -> dict[str, float]:
    from grpc_map_reduce_spark.operators.dedup import (
        LSH_ROWS_PER_BAND, lsh_near_dup, minhash_candidates,
    )
    from grpc_map_reduce_spark.sources.tables import table

    docs = table(spark, docs_dir, "documents")
    cand = minhash_candidates(docs, rows_per_band=LSH_ROWS_PER_BAND).count()
    found = {tuple(r) for r in lsh_near_dup(docs).select("doc_a", "doc_b").collect()}
    planted = set()  # query_mix's documents have none: recall is then 1
    path = os.path.join(docs_dir, "planted_pairs.json")
    if os.path.exists(path):
        with open(path) as fh:
            planted = {tuple(p) for p in json.load(fh)}
    return {"dedup.candidate_pairs": cand, "dedup.passing_pairs": len(found),
            "dedup.pair_yield": len(found) / cand if cand else 0.0,
            "dedup.planted_recall": len(planted & found) / len(planted) if planted else 1.0}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test uses a tiny one)")
    args = ap.parse_args(argv)

    # Keep Spark's block and shuffle files, the JVM's and Python's
    # temporary files inside this checkout.
    tmp = os.path.join(workloads.OUT_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    import pyspark

    stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "scale": args.scale, "nproc": len(os.sched_getaffinity(0)),
             "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), "cpus": _cpus(),
             "spark": pyspark.__version__, "python": platform.python_version(),
             "loadavg_start": _loadavg()}
    cpu_start = _cpu_times()
    wl = workloads.WORKLOADS[args.workload](args.seed, args.scale)  # inputs + references
    stamp["inputs"] = wl.manifests
    tracer = tr.Tracer(enabled=bool(args.trace))

    # memory is a per-layer metric: the sampler thread runs only when traced
    with tr.RssSampler() if args.trace else contextlib.nullcontext() as rss:
        setups = []
        for i in range(1 if args.trace else SETUPS):
            if i:
                _stop(spark)
            spark, seconds = _setup(tracer)
            setups.append(seconds)
        warm_up_s = _warm_up(spark, tracer)
        tracer.enabled = False  # spans again only in the traced passes
        try:
            runner = Runner(spark, wl, tracer, args.seed)
            cold = runner.cold_pass()
            samples: dict[str, list[tuple[float, float, float]]] = {}
            traced: dict[str, list[tuple[float, float, float]]] = {}
            passes = max(1, round(args.seconds / PASS_S))
            # With --trace 1 twice the passes, traced in the order U T T U
            # U T ..., so both halves see the same JIT warm-up trend and
            # their difference is the tracing overhead.
            passes *= 1 + args.trace
            for i in range(passes):
                if args.trace and i % 4 in (1, 2):
                    tracer.enabled = True
                    tracer.instrument(_instrument_targets(wl))
                    try:
                        runner.warm_pass(traced)
                    finally:
                        tracer.restore()
                        tracer.enabled = False
                else:
                    runner.warm_pass(samples)
            if args.trace:
                extra = _per_layer(runner, passes // 2, tracer.spans, cold, samples, traced)
                extra["session.get_spark_s"], extra["session.warmup_s"] = setups[0], warm_up_s
                extra["memory.peak_rss_mb"] = rss.peak / 2**20
                extra.update(_codec_rates(wl.docs_dir))
                extra.update(_python_counts(spark, wl.docs_dir))
                extra.update(_dedup_counts(spark, wl.docs_dir))
        finally:
            _stop(spark)

    if not args.trace:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "cold_job_cpu_s": (sum(c + j for _, c, j in cold.values()), "s"),
            "job_cpu_s": (_cpu_per_pass(samples), "s"),
        }
    else:
        metrics = {k: (v, _unit(k)) for k, v in sorted(extra.items())}

    cpu = [b - a for a, b in zip(cpu_start, _cpu_times())]
    # steal: time the hypervisor ran other guests while this one wanted the CPU
    stamp.update(loadavg_end=_loadavg(), cpu_steal_share=round(cpu[7] / max(sum(cpu), 1), 4),
                 passes=passes,
                 error_rate=runner.failed / max(runner.attempted, 1),
                 wall_cold_job_s=round(sum(w for w, _, _ in cold.values()), 4),
                 wall_job_s=round(sum(_best_wall(samples)), 4),
                 op_cold_s={k: [round(x, 4) for x in v] for k, v in cold.items()},
                 op_warm_s={k: [[round(x, 4) for x in e] for e in v] for k, v in samples.items()},
                 setups=[round(x, 4) for x in setups], warm_up_s=round(warm_up_s, 4),
                 failures=runner.failures[:20])
    if args.trace:
        stamp["layer_shares"] = _layer_shares(runner, tracer.spans)
        _write_trace(args, stamp, tracer.spans)
    print(json.dumps(stamp))
    print(json.dumps({
        "correct": runner.failed == 0, "attempted": runner.attempted, "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "ratio" if name.endswith(("yield", "skew", "recall")) else "count"


def _instrument_targets(wl):
    """Module functions wrapped in spans during traced passes, so calls
    made inside the program's own entry points get their layer's span."""
    import importlib

    from grpc_map_reduce_spark.sinks import text as sink_text
    from grpc_map_reduce_spark.sources import tables

    targets = [(sink_text, "read_text_corpus", "sources"), (sink_text, "write_kv_text", "sinks")]
    for mod_name, attr in (("grpc_map_reduce_spark.operators.wordcount", "wordcount"),
                           ("grpc_map_reduce_spark.operators.inverted_index", "inverted_index")):
        targets.append((importlib.import_module(mod_name), attr, "operators"))
    from grpc_map_reduce_spark import registry

    mods = {registry.all_queries()[op.name].spark_fn.__module__
            for op in wl.ops if op.name in registry.all_queries()}
    for m in sorted(mods):
        mod = sys.modules[m]
        if getattr(mod, "table", None) is tables.table:
            targets.append((mod, "table", "sources"))
    return targets


def _per_layer(runner, n, spans, cold, untraced, traced) -> dict[str, float]:
    """Per-layer metrics: sums per traced pass, maxima over the passes,
    and the wall-clock counterparts of the end-to-end CPU metrics."""
    out = {k: v / n for k, v in runner.sums.items()}
    out.update(runner.maxima)
    sums = _span_layer_sums(spans)
    out["sources.list_s"] = sums.get("sources", 0.0) / n
    out["operators.build_s"] = sums.get("operators", 0.0) / n
    out["sinks.write_s"] = sums.get("sinks", 0.0) / n
    size, files = _sink_outputs(spans)
    out["sinks.output_bytes"], out["sinks.output_files"] = size / n, files / n
    out["wall.cold_job_s"] = sum(w for w, _, _ in cold.values())
    out["jvm.cold_jit_cpu_s"] = sum(j for _, _, j in cold.values())
    out["jvm.jit_cpu_s"] = sum(x[2] for v in untraced.values() for x in v) / n
    out["wall.job_s"] = sum(_best_wall(untraced))
    out["wall.query_p50_s"] = statistics.median(_best_wall(untraced))
    out["trace.overhead_cpu_s"] = _cpu_per_pass(traced) - _cpu_per_pass(untraced)
    return out


def _layer_shares(runner, spans) -> dict[str, float]:
    """Shares of the traced operations' wall time: inside Spark stages, on
    the driver outside every stage, and in operator calls before the
    action; and the share of the cores' time that ran tasks."""
    wall = runner.traced_wall
    driver = runner.sums.get("spark.driver_s", 0.0)
    shares = {"stages": 1 - driver / wall, "spark.driver_s": driver / wall,
              "operators.build_s": _span_layer_sums(spans).get("operators", 0.0) / wall,
              "task_core_use": runner.sums.get("spark.task_s", 0.0) / (wall * int(_cpus()))}
    return {k: round(v, 3) for k, v in shares.items()}


def _write_trace(args, stamp, spans) -> None:
    os.makedirs(workloads.OUT_DIR, exist_ok=True)
    path = os.path.join(workloads.OUT_DIR, f"trace-{args.workload}-s{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"stamp": stamp, "self_time_s": tr.self_time_by_layer(spans),
                   "spans": spans}, fh)
    print(f"trace written to {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())

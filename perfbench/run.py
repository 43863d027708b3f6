"""Benchmark of the v2_ocr_spark extraction engine.

    python3 perfbench/run.py --workload bulk_extract --seed 42 \
        --seconds 15 --trace 0

Run from the root of a checkout of the repository. One driver process
runs the named workload on ``local[<cores>]`` as a closed loop: one op
at a time, each checked after it returns, for ``--seconds`` seconds
(at least one op). Workloads are described in ``workloads.py``.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (median of
several set-ups), ``cpu_per_ref`` (the median CPU seconds of an op,
spent by the driver's thread, the JVM and its Python workers, checks
excluded, over the median CPU seconds of a fixed reference Spark job run
before every op) and ``stored_bytes_per_input_byte``. Failed ops (an
uninjected exception or any output mismatch) are the result's
``failed`` count. Raw and wall-clock figures are in the run record
(``samples``), not among the metrics: each op's CPU seconds and those of
its reference job, each op's time with their median, tail (the highest
percentile with ten samples beyond it, or the median) and turns of the
input brought up to date per second, and the CPU time the hypervisor
stole during each op. On a shared host an op's wall time follows that
steal, 25-50% slower at 5-10% steal, and its CPU time follows how fast
the host runs; the reference job follows the host too. The peak
resident memory of the JVM and its Python workers is reported per layer
(``memory.peak_rss_mb``, the traced op).

``--trace 1`` runs two untraced ops, then one traced op and the layer
probes, and prints the per-layer metrics, the self time of each layer,
and the tracing overhead (traced minus untraced op time). Layer spans
must account for the traced op's wall time within ``TOLERANCE``; the
unaccounted share is ``trace.unaccounted_frac``.

The last line of stdout is the result JSON; the line before it is the
run record (machine, samples, tail percentile). Both, and the trace
spans, are also written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPEATS = 3
REF_EXTRA = 6
# C1 only, compiling a method after a hundredth of the usual calls, into
# a code cache large enough that nothing is flushed and recompiled: the
# JIT is done within the warm-up ops. The serial collector has no
# concurrent GC threads: under G1 the CPU time per op swung 30% as its
# concurrent cycles came and went, with the same inputs and no steal
JVM_FLAGS = ("-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.01",
             "-XX:-UseCodeCacheFlushing", "-XX:ReservedCodeCacheSize=512m",
             "-XX:+UseSerialGC")
TOLERANCE = 0.05
DRIVER_MEM = "2g"

# wall-clock op times swing with the CPU time the hypervisor steals from
# the VM (25-50% at 5-10% steal), and an op's CPU time with how fast the
# shared host runs at the moment (up to 30% over a quarter of an hour,
# on the same inputs and with no steal). The gated cost of an op is its
# CPU time in units of the CPU time of a fixed reference job run before
# every op (``harness.reference_job``): the reference slows with the
# host as the op does. Raw CPU and wall time, tail and turns per second
# go to the run record and, for the traced op, to the per-layer metrics
END_TO_END = {
    "setup_s": "s", "cpu_per_ref": "ratio",
    "stored_bytes_per_input_byte": "ratio",
}
LAYERS = ("op", "runner", "sink", "assemble", "dedup", "corpus",
          "textstats", "quality", "similarity")
KERNEL_KINDS = ("markdown", "blocks_rtl", "plain", "html", "pdf_layout")
SPARK_UNITS = {
    "jobs": "count", "tasks": "count", "run_s": "s", "cpu_s": "s",
    "gc_s": "s", "scan_s": "s", "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
    "python_boot_s": "s", "python_init_s": "s", "python_total_s": "s",
    "python_bytes_sent": "bytes", "python_rows_per_batch": "rows",
    "leaked_persists": "count",
}
PER_LAYER = {
    **{f"kernels.{k}.{m}": u for k in KERNEL_KINDS
       for m, u in (("s", "s"), ("rows", "rows"))},
    "extract.s": "s", "extract.echo_s": "s",
    "memory.peak_rss_mb": "MB",
    **{f"spark.{k}": u for k, u in SPARK_UNITS.items()},
    "runner.fingerprint_s": "s", "runner.partitions_staged": "count",
    "runner.rows_restaged_per_new_row": "ratio",
    "sink.promote_s": "s", "sink.promotes": "count",
    "sink.checkpoint_writes": "count", "sink.files_written": "count",
    "assemble.s": "s", "assemble.shuffle_bytes": "bytes",
    "dedup.pairs_s": "s", "dedup.candidate_pairs": "count",
    "dedup.pairs_per_candidate": "ratio", "dedup.clusters_s": "s",
    "dedup.minhash_s": "s", "dedup.lsh_candidates": "count",
    "dedup.minhash_verified_per_candidate": "ratio",
    "corpus.filter_s": "s", "corpus.pack_s": "s",
    "textstats.token_counts_s": "s",
    "quality.lm_logloss_s": "s", "quality.dup_spans_s": "s",
    "quality.boilerplate_s": "s",
    "similarity.kmeans_s": "s", "similarity.pairs_s": "s",
    "similarity.max_cluster": "count",
    "similarity.pairs_per_candidate": "ratio",
    "tail.job_s": "s", "tail.stages_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.job_s": "s", "trace.untraced_job_s": "s",
    "trace.overhead_s": "s", "trace.unaccounted_frac": "ratio",
}
WORKLOAD_NAMES = ("bulk_extract", "incremental_resume")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--plant-promote-delay-ms", type=float, default=0.0,
        help="self-test only: spin this long in every MergeSink.promote")
    return ap.parse_args(argv)


def machine_record(cpus: int) -> dict:
    def meminfo_gb() -> float:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return round(int(line.split()[1]) / 2**20, 1)
        return 0.0

    def threads_per_core() -> int:
        cores = set()
        with open("/proc/cpuinfo") as f:
            phys = core = None
            for line in f:
                if line.startswith("physical id"):
                    phys = line.split(":")[1].strip()
                elif line.startswith("core id"):
                    core = line.split(":")[1].strip()
                    cores.add((phys, core))
        return max(1, (os.cpu_count() or 1) // max(1, len(cores)))

    import pandas
    import pyarrow
    import pyspark

    return {
        "cores": cpus, "logical_cpus": os.cpu_count(),
        "threads_per_core": threads_per_core(), "ram_gb": meminfo_gb(),
        "driver_heap": DRIVER_MEM, "spark": pyspark.__version__,
        "python": platform.python_version(), "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }


def cpu_pressure() -> float:
    """Share of the last 10 s some task waited for a CPU (PSI), in %."""
    try:
        with open("/proc/pressure/cpu") as f:
            return float(f.readline().split()[1].split("=")[1])
    except (OSError, IndexError, ValueError):
        return 0.0


TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(t) for t in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def prepare_env(work: str, cpus: int) -> None:
    """Pin parallelism to this box and keep every file Spark, the JVM
    and Python write inside the work directory. The JVM's heap is
    committed up front, it compiles early and with C1 only, and it
    collects with the serial collector (``JVM_FLAGS``): under the
    default JIT the JVM's CPU time per op keeps falling for a minute of
    ops, longer than a run can warm for."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": " ".join((
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", *JVM_FLAGS)),
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options -Xms{DRIVER_MEM} pyspark-shell",
    })
    sys.path[:0] = [ROOT, HERE]


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and every Python worker
    it forked to exit."""
    from pyspark import SparkContext

    from harness import alive, descendants

    gateway = SparkContext._gateway
    proc = gateway.proc
    forked = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while forked and time.monotonic() < deadline:
        forked = [p for p in forked if alive(p)]
        time.sleep(0.1)
    for pid in forked:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def plant_promote_delay(ms: float) -> None:
    from v2_ocr_spark.pipeline.sink import MergeSink

    promote = MergeSink.promote

    def delayed(self, run_id, pid, metrics):
        # spin rather than sleep: the delay costs driver CPU time too
        end = time.perf_counter() + ms / 1e3
        while time.perf_counter() < end:
            pass
        return promote(self, run_id, pid, metrics)

    MergeSink.promote = delayed


def timed_setups(w, repeats: int) -> list[float]:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        w.setup()
        times.append(time.perf_counter() - t0)
    return times


def run_loop(w, ctx, seconds: float) -> dict:
    from harness import median, reference_job, tail, tree_cpu_s
    from v2_ocr_spark.operators import dedup

    s = {"cpu_s": [], "ref_cpu_s": [], "job_s": [], "turns_per_s": [],
         "steal_frac": [], "steal_s": [],
         "stored_bytes_per_input_byte": [], "leaked_persists": [],
         "errors": []}
    attempted = failed = 0

    def reference_cpu_s() -> float:
        c0 = tree_cpu_s(ctx.jvm_pid)
        reference_job(ctx.spark)
        return tree_cpu_s(ctx.jvm_pid) - c0

    reference_job(ctx.spark)  # its first run pays for its Python workers
    # one reference run varies about half as much again as one op: it
    # gets extra samples, taken before the first op
    s["ref_cpu_s"] += [reference_cpu_s() for _ in range(REF_EXTRA)]
    deadline = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < deadline:
        # op i must never warm op i+1: drop memo caches and anything an
        # earlier op left persisted; and it must not pay for writing
        # back op i's files either
        dedup.clear_pairs_cache()
        ctx.spark.catalog.clearCache()
        s["ref_cpu_s"].append(reference_cpu_s())
        os.sync()
        before = ctx.probe.persisted()
        attempted += 1
        try:
            ticks = cpu_ticks()
            c0 = tree_cpu_s(ctx.jvm_pid)
            t0 = time.perf_counter()
            units = w.op()
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s(ctx.jvm_pid) - c0
            steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
            errs = w.check()
        except Exception:  # noqa: BLE001 — an op failure is a result
            traceback.print_exc()
            failed += 1
            s["errors"].append(traceback.format_exc(limit=1))
            break
        s["leaked_persists"].append(ctx.probe.persisted() - before)
        if errs:
            failed += 1
            s["errors"].extend(errs)
        s["cpu_s"].append(cpu)
        s["job_s"].append(dt)
        s["turns_per_s"].append(units / dt)
        s["steal_frac"].append(steal / max(total, 1))
        s["steal_s"].append(steal / TICK)
        s["stored_bytes_per_input_byte"].append(w.stored_ratio())
    metrics = {}
    if s["job_s"]:
        metrics = {
            "cpu_per_ref": median(s["cpu_s"]) / median(s["ref_cpu_s"]),
            "stored_bytes_per_input_byte": median(
                s["stored_bytes_per_input_byte"]),
        }
        # raw CPU and wall-clock figures: in the run record, not gated
        # (see END_TO_END)
        s["wall"] = {k: median(s[k]) for k in
                     ("cpu_s", "ref_cpu_s", "job_s", "turns_per_s")}
        s["wall"]["job_s_tail"], s["wall"]["tail_pct"] = tail(s["job_s"])
    return {"metrics": metrics, "samples": s, "attempted": attempted,
            "failed": failed}


def run_traced(w, ctx) -> dict:
    from harness import Tracer
    from v2_ocr_spark.operators import dedup

    errs = []
    for _ in range(2):  # the second untraced op is the one compared
        dedup.clear_pairs_cache()
        ctx.spark.catalog.clearCache()
        t0 = time.perf_counter()
        w.op()
        untraced = time.perf_counter() - t0
        errs += w.check()

    dedup.clear_pairs_cache()
    ctx.spark.catalog.clearCache()
    tr = Tracer()
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(w.trace(tr))
    m["sink.promotes"] = tr.counts.get("sink.promote", 0)
    m["sink.promote_s"] = tr.total("sink.promote")
    m["sink.checkpoint_writes"] = tr.counts.get("sink.checkpoint", 0)
    m["sink.files_written"] = tr.counts.get("sink.files_written", 0)
    m["runner.fingerprint_s"] = tr.total("runner.fingerprint")
    for layer, t in tr.self_times().items():
        if f"self.{layer}_s" in m:
            m[f"self.{layer}_s"] = t
    m["trace.untraced_job_s"] = untraced
    m["trace.overhead_s"] = m["trace.job_s"] - untraced
    # the op's root span is its only span in layer "op": its self time
    # is the part of the op no layer span covers
    m["trace.unaccounted_frac"] = m["self.op_s"] / m["trace.job_s"]
    errs += w.trace_errors
    return {"metrics": m, "spans": tr.dump(), "attempted": 3,
            "failed": (1 if errs else 0), "errors": errs,
            "accounted_within_tolerance":
                m["trace.unaccounted_frac"] <= TOLERANCE}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "v2_ocr_spark")):
        print(f"perfbench: no v2_ocr_spark package in {ROOT}; run it from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    prepare_env(work, cpus)
    load_before = os.getloadavg()
    pressure_before = cpu_pressure()
    ticks_before = cpu_ticks()
    t_start = time.perf_counter()

    import workloads
    from harness import RssSampler, SparkProbe, median
    from v2_ocr_spark.session import get_spark

    if args.plant_promote_delay_ms:
        plant_promote_delay(args.plant_promote_delay_ms)
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_s = time.perf_counter() - t_start
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "machine": machine_record(cpus),
              "load_before": load_before, "jvm_start_s": jvm_s}
    record["cpu_pressure_before"] = pressure_before
    record["busy_at_start"] = (load_before[0] > 0.5 * cpus
                               or pressure_before > 10.0)
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        # the memory sampler polls /proc on a thread of its own: only
        # the traced run, which reports memory, pays for it
        with (RssSampler(jvm_pid) if args.trace
              else contextlib.nullcontext()) as sampler:
            ctx = SimpleNamespace(spark=spark, probe=SparkProbe(spark),
                                  jvm_pid=jvm_pid, sampler=sampler,
                                  work=work, seed=args.seed)
            w = workloads.WORKLOADS[args.workload](ctx)
            setups = timed_setups(w, 1 if args.trace else SETUP_REPEATS)
            t0 = time.perf_counter()
            warm_errors = []
            for _ in range(w.warm_ops):
                warm_errors += w.warm()
            record["warm_s"] = time.perf_counter() - t0
            if args.trace:
                res = run_traced(w, ctx)
            else:
                res = run_loop(w, ctx, args.seconds)
                res["metrics"]["setup_s"] = median(setups)
                record["setup_samples"] = setups
        if warm_errors:
            res["failed"] += 1
            res.setdefault("errors", []).extend(warm_errors)
        res["attempted"] += w.warm_ops
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    record["load_after"] = os.getloadavg()
    record["cpu_pressure_after"] = cpu_pressure()
    steal, total = (b - a for a, b in zip(ticks_before, cpu_ticks()))
    # CPU time the hypervisor gave to other guests while this run was
    # runnable: a run with a high share measured a contended host
    record["steal_frac"] = steal / max(total, 1)
    record["total_s"] = time.perf_counter() - t_start

    units = END_TO_END if not args.trace else PER_LAYER
    metrics = {k: {"value": float(res["metrics"][k]), "unit": u}
               for k, u in units.items() if k in res["metrics"]}
    missing = sorted(set(units) - set(metrics))
    correct = res["failed"] == 0 and not missing
    record.update({k: v for k, v in res.items() if k != "metrics"})
    record["missing_metrics"] = missing
    result = {"correct": correct, "attempted": res["attempted"],
              "failed": res["failed"], "metrics": metrics}

    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out, f"{name}.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1,
                  default=str)
    record.pop("spans", None)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

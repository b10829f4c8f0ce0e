"""Engine benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload write_mix --seed 1 --seconds 14 --trace 0

Run from the repository root. The engine starts on ``local[<half the
cpus>]``; a single client sends each op only after the previous one
returned. After an untimed warm-up cycle of ops, the client times
``round(--seconds / nominal cycle time)`` whole cycles (at least one), so
every window holds the same ops whatever the machine's speed at the time.
Every op's result is checked against an independent reference after the
timed window.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` wraps the
engine's public functions with timing shims and reports the per-layer
metrics instead (see perfbench/README.md). Human-readable lines come
first; the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
All files (generated inputs, Spark scratch, spans) stay under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Spark runs local[<half the CPUs this process may use>]. The other half
#: is left to the JVM's compiler and GC threads and the Python driver; with
#: every CPU given to tasks these queue behind the tasks, and the warm-up
#: curve and the latencies spread more (at these input sizes two task
#: slots are as fast as four).
CPUS = max(1, len(os.sched_getaffinity(0)) // 2)

#: Op-list length generated per run (100 cycles); a run uses a prefix.
MAX_OPS = {"write_mix": 1400, "doc_pipeline": 700}

#: The bounded metrics. Wall-clock latency and throughput are printed
#: with them and are per-layer metrics of the traced run (README, "Why
#: CPU time is the bounded time metric").
END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MiB",
}

#: Wall-clock figures of every run, printed with their sample counts.
WALL = {
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_ops": "ops/s",
}

#: Per-layer metric → (unit, workloads it applies to). Every metric is
#: reported on every workload; where it does not apply it reads 0.
PER_LAYER = {
    "session.start_s": ("s", {"write_mix", "doc_pipeline"}),
    "catalog.register_s": ("s", {"write_mix", "doc_pipeline"}),
    "context.normalize_ms": ("ms", {"write_mix"}),
    "context.execute_ms": ("ms", {"write_mix"}),
    "spark.action_ms": ("ms", {"write_mix", "doc_pipeline"}),
    "spark.jobs": ("count", {"write_mix", "doc_pipeline"}),
    "spark.stages": ("count", {"write_mix", "doc_pipeline"}),
    "spark.tasks": ("count", {"write_mix", "doc_pipeline"}),
    "spark.scan_bytes": ("B", {"write_mix", "doc_pipeline"}),
    "spark.files_read": ("count", {"write_mix", "doc_pipeline"}),
    "spark.rows_scanned_per_row_returned": ("ratio", {"write_mix"}),
    "spark.shuffle_bytes": ("B", {"write_mix", "doc_pipeline"}),
    "spark.spill_bytes": ("B", set()),
    "sql_dml.dispatch_ms": ("ms", {"write_mix"}),
    "dml.insert_ms": ("ms", {"write_mix"}),
    "dml.update_ms": ("ms", {"write_mix"}),
    "dml.delete_ms": ("ms", {"write_mix"}),
    "dml.merge_ms": ("ms", {"write_mix"}),
    "dml.bytes_written": ("B", {"write_mix"}),
    "dml.files_written": ("count", {"write_mix"}),
    "dml.files_live": ("count", {"write_mix"}),
    "ext.dedup_ms": ("ms", {"doc_pipeline"}),
    "ext.similarity_ms": ("ms", {"doc_pipeline"}),
    "ext.text_ms": ("ms", {"doc_pipeline"}),
    "ext.pipeline_ms": ("ms", {"doc_pipeline"}),
    "ext.shuffle_bytes_per_doc": ("B", {"doc_pipeline"}),
    "read_p50_ms": ("ms", {"write_mix"}),
    "write_p50_ms": ("ms", {"write_mix"}),
    "write_amp": ("ratio", {"write_mix"}),
    "space_amp": ("ratio", {"write_mix"}),
    "trace.shim_ms": ("ms", {"write_mix", "doc_pipeline"}),
    "trace.counters_ms": ("ms", {"write_mix", "doc_pipeline"}),
    "trace.cpu_ms_per_op": ("ms", {"write_mix", "doc_pipeline"}),
    "latency_p50_ms": ("ms", {"write_mix", "doc_pipeline"}),
    "latency_p90_ms": ("ms", {"write_mix", "doc_pipeline"}),
    "throughput_ops": ("ops/s", {"write_mix", "doc_pipeline"}),
}


def _boot_clock() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def _process_start() -> float:
    """This process's start on the CLOCK_BOOTTIME scale (from
    /proc/self/stat), so set-up time includes interpreter start-up."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[19]) / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def _tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    and every process below it: the Python driver, the JVM it starts and
    any Python workers the JVM starts. Steal is not in these counters."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        ticks[int(name)] = sum(int(v) for v in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def _hwm_mib(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def percentile(values: list[float], q: float) -> float:
    """Percentile with linear interpolation between order statistics
    (``q`` in 0..100; numpy's default). The op mix has gaps between its
    latency clusters, and interpolation keeps a percentile that sits near a
    gap from jumping across it on one noisy op."""
    s = sorted(values)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _prepare_env(work: str) -> None:
    """Keep every file the engine and Spark write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # also for the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Two JVM settings of the benchmark's own (README, "Client and engine"):
    # - C1 only: with the default tiered JIT the compiler threads still
    #   spend 1.5-2 CPU-s per op after a warm-up cycle and each later cycle
    #   is faster, so a window that fits the run measures how far
    #   compilation got; with C1 alone the cycles are flat after one.
    # - a fixed 1 GiB heap (the engine's default is an 8g cap): when G1
    #   sizes the heap by GC timing, peak_rss_mb spread 0.34 over five runs
    #   with an 8g cap and 0.20 with a 1g cap; fixed at 1g it spread 0.002.
    #   The inputs are a few MB.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -Xms1g' "
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    import tempfile

    tempfile.tempdir = tmp


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(MAX_OPS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_proc = _process_start()
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "mesin_spark", "context.py")):
        print(f"perfbench: engine sources (mesin_spark/) not found under {ROOT}", file=sys.stderr)
        return 2
    # the script's own directory must not shadow top-level modules
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    try:
        return _run(args, t_proc, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


class Timed(NamedTuple):
    i: int
    kind: str
    t0: float  # execute() called
    ready: float  # lazy frame returned
    t1: float  # last result row on the driver

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


def timed_cycles(seconds: float, cycle_s: float) -> int:
    """Whole cycles that fill about ``seconds`` at the nominal cycle time.
    The count depends on nothing measured, so a run on a slow or fast
    moment times the same ops as any other run."""
    return max(1, round(seconds / cycle_s))


def _drive(wl, ops, warm: int, tracer, counters):
    """The closed-loop client: ``ops[:warm]`` untimed, then the rest timed.
    Returns (executed, timed, per-op counters, window seconds, set-up end
    on the boot clock, share of CPU time the host stole in the window,
    CPU seconds the engine's processes used in the window)."""
    from perfbench.workloads import describe_error

    executed = []  # (index, op, result, error), warm-up included
    timed: list[Timed] = []
    per_op_counters: dict[int, dict] = {}

    def one(i: int, is_timed: bool) -> None:
        op = ops[i]
        if counters is not None:
            tracer.op = i if is_timed else None
            counters.begin(i)
        t0 = time.perf_counter()
        ready = t0
        result = error = None
        try:
            result, ready = wl.run(op)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
            error = describe_error(e)
        t1 = time.perf_counter()
        if counters is not None:
            tracer.op = None
            got = counters.end()
            if is_timed:
                got["rows_returned"] = len(result) if result is not None else 0
                per_op_counters[i] = got
        executed.append((i, op, result, error))
        wl.after_op(op, is_timed)
        if is_timed:
            timed.append(Timed(i, op.kind, t0, ready, t1))

    for i in range(warm):
        one(i, False)
    setup_end = _boot_clock()
    if tracer is not None:
        tracer.own_s = tracer.counters_s = 0.0
    start = time.perf_counter()
    steal0, total0 = _cpu_ticks()
    cpu0 = _tree_cpu_s(os.getpid())
    for i in range(warm, len(ops)):
        one(i, True)
    cpu = _tree_cpu_s(os.getpid()) - cpu0
    steal1, total1 = _cpu_ticks()
    steal = (steal1 - steal0) / max(total1 - total0, 1)
    return executed, timed, per_op_counters, timed[-1].t1 - start, setup_end, steal, cpu


def _run(args, t_proc: float, base: str, work: str) -> int:
    from perfbench import gen
    from perfbench.check import Tally
    from perfbench.workloads import WORKLOADS

    tracer = counters = None
    if args.trace:
        from perfbench.tracing import Tracer

        tracer = Tracer()
        tracer.install()

    wl_cls = WORKLOADS[args.workload]
    warm = wl_cls.cycle * wl_cls.warmup_cycles
    n_ops = warm + wl_cls.cycle * timed_cycles(args.seconds, wl_cls.cycle_s)
    if n_ops > MAX_OPS[args.workload]:
        print(f"perfbench: --seconds {args.seconds:g} needs {n_ops} ops, more than {MAX_OPS[args.workload]}",
              file=sys.stderr)
        return 2
    # always generate MAX_OPS so the ops of a seed do not depend on --seconds
    ops = gen.op_list(args.workload, args.seed, MAX_OPS[args.workload])[:n_ops]
    from mesin_spark import session

    phases = {"start": _boot_clock() - t_proc}
    spark = session.get_session(f"perfbench-{args.workload}", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        phases["session"] = _boot_clock() - t_proc - sum(phases.values())
        wl = wl_cls(spark, os.path.join(work, "data"), args.seed)
        sizes = wl.generate()
        phases["generate"] = _boot_clock() - t_proc - sum(phases.values())
        wl.setup()
        phases["setup"] = _boot_clock() - t_proc - sum(phases.values())
        if tracer is not None:
            from perfbench.tracing import SparkCounters

            counters = SparkCounters(spark, tracer)
        executed, timed, per_op_counters, window, setup_end, steal, cpu = _drive(wl, ops, warm, tracer, counters)
        # read before the checks, whose DuckDB replay is not the engine's memory
        rss = {"driver": _hwm_mib("self"), "jvm": _hwm_mib(jvm_pid)}
        setup_s = setup_end - t_proc
        phases["warmup"] = setup_s - sum(phases.values())
        tally = Tally()
        wl.check(executed, tally)
        extra = wl.extra()
    finally:
        _stop(spark)

    lat_ms = [t.ms for t in timed]
    reads = [t.ms for t in timed if t.kind not in gen.WRITE_KINDS]
    writes = [t.ms for t in timed if t.kind in gen.WRITE_KINDS]
    e2e = {
        "setup_s": setup_s,
        "cpu_ms_per_op": cpu * 1e3 / len(timed),
        "peak_rss_mb": sum(rss.values()),
    }
    wall = {
        "latency_p50_ms": percentile(lat_ms, 50),
        "latency_p90_ms": percentile(lat_ms, 90),
        "throughput_ops": len(timed) / window,
    }
    info = {
        "read_p50_ms": percentile(reads, 50) if writes else 0.0,
        "write_p50_ms": percentile(writes, 50),
        **{k: extra[k] for k in ("write_amp", "space_amp") if k in extra},
    }
    repeats = len(timed) - len({ops[t.i].sql for t in timed})

    print(
        f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
        f"master=local[{CPUS}] client=1 closed-loop inputs={json.dumps(sizes, sort_keys=True)}"
    )
    print(f"  timed ops={len(timed)} cycles={len(timed) // wl.cycle} warm-up ops={warm} "
          f"window_s={window:.3f} exact-repeat statements={repeats} host cpu steal={steal:.0%}")
    print("  set-up phases (s): " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    print("  peak rss (MiB): " + " ".join(f"{k}={v:.0f}" for k, v in rss.items()))
    by_kind: dict[str, list[float]] = {}
    for t in timed:
        by_kind.setdefault(t.kind, []).append(t.ms)
    cycles = [timed[k:k + wl.cycle] for k in range(0, len(timed), wl.cycle)]
    print("  per cycle (busy s / p50 ms): " + " ".join(
        f"{sum(t.ms for t in c) / 1e3:.2f}/{percentile([t.ms for t in c], 50):.0f}" for c in cycles))
    print("  p50 ms by kind: " + " ".join(f"{k}={percentile(v, 50):.0f}(n={len(v)})" for k, v in sorted(by_kind.items())))
    for name, v in (e2e | wall).items():
        n = len(lat_ms) if name in WALL or name == "cpu_ms_per_op" else 1
        print(f"  {name:<16} {v:12.3f} {(END_TO_END | WALL)[name]:<6} n={n}")
    print(f"  {'error_rate':<16} {tally.error_rate:12.4f} {'':<6} ({tally.failed} failed of {tally.attempted} attempted)")
    if writes:
        print(f"  {'read_p50_ms':<16} {info['read_p50_ms']:12.3f} ms     n={len(reads)}")
        print(f"  {'write_p50_ms':<16} {info['write_p50_ms']:12.3f} ms     n={len(writes)}")
        print(f"  {'write_amp':<16} {info['write_amp']:12.3f}        writes={len(writes)}")
        print(f"  {'space_amp':<16} {info['space_amp']:12.3f}")
    for p in tally.problems[:20]:
        print(f"  FAILED {p}", file=sys.stderr)

    if tracer is None:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        layer = _layer_metrics(tracer, per_op_counters, timed, extra, info, e2e | wall, sizes)
        missing = _missing_coverage(args.workload, tracer, per_op_counters)
        os.makedirs(os.path.join(base, "spans"), exist_ok=True)
        spans_path = os.path.join(base, "spans", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
        tracer.dump(spans_path)
        print(f"  spans: {len(tracer.spans)} written to {os.path.relpath(spans_path)}")
        for name, v in layer.items():
            print(f"  {name:<38} {v:14.3f} {PER_LAYER[name][0]}")
        if missing:
            print(f"perfbench: traced run observed no data for {missing}", file=sys.stderr)
            return 3
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in layer.items()}
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted, "failed": tally.failed,
                      "metrics": metrics}))
    return 0


def _layer_metrics(tracer, per_op_counters, timed, extra, info, run, sizes) -> dict[str, float]:
    """Per-layer metrics of a traced run. Span times are per op, averaged
    over the timed ops that entered the layer; counters and bytes are
    averaged per op. ``context.execute_ms``, ``spark.action_ms`` and the
    rows-scanned ratio cover reads only: a write's execute() already runs
    the whole DML (split by the sql_dml and dml metrics), and its action
    only collects a one-row status frame."""
    from perfbench.gen import WRITE_KINDS

    per_op = tracer.per_op(("sql_dml.", "ext."))
    reads = {t.i for t in timed if t.kind not in WRITE_KINDS}

    def mean_ms(name: str, only=None) -> float:
        vals = [spans[name] for i, spans in per_op.items() if name in spans and (only is None or i in only)]
        return statistics.fmean(vals) * 1e3 if vals else 0.0

    def mean_counter(key: str) -> float:
        return statistics.fmean(c[key] for c in per_op_counters.values())

    read_counters = [c for i, c in per_op_counters.items() if i in reads]
    rows_scanned = sum(c["scan_rows"] for c in read_counters)
    rows_returned = sum(c["rows_returned"] for c in read_counters)
    n_docs = sizes.get("documents", 0)
    out = {
        "session.start_s": tracer.total("session.start"),
        "catalog.register_s": tracer.total("catalog.register"),
        "context.normalize_ms": mean_ms("context.normalize"),
        "context.execute_ms": mean_ms("context.execute", reads),
        "spark.action_ms": statistics.fmean((t.t1 - t.ready) * 1e3 for t in timed if t.i in reads),
        "spark.jobs": mean_counter("jobs"),
        "spark.stages": mean_counter("stages"),
        "spark.tasks": mean_counter("tasks"),
        "spark.scan_bytes": mean_counter("scan_bytes"),
        "spark.files_read": mean_counter("files_read"),
        "spark.rows_scanned_per_row_returned": rows_scanned / max(rows_returned, 1),
        "spark.shuffle_bytes": mean_counter("shuffle_bytes"),
        "spark.spill_bytes": mean_counter("spill_bytes"),
        "sql_dml.dispatch_ms": mean_ms("sql_dml.dispatch"),
        "dml.insert_ms": mean_ms("dml.insert"),
        "dml.update_ms": mean_ms("dml.update"),
        "dml.delete_ms": mean_ms("dml.delete"),
        "dml.merge_ms": mean_ms("dml.merge"),
        "dml.bytes_written": extra.get("dml.bytes_written", 0.0),
        "dml.files_written": extra.get("dml.files_written", 0.0),
        "dml.files_live": extra.get("dml.files_live", 0.0),
        "ext.dedup_ms": mean_ms("ext.dedup"),
        "ext.similarity_ms": mean_ms("ext.similarity"),
        "ext.text_ms": mean_ms("ext.text"),
        "ext.pipeline_ms": mean_ms("ext.pipeline"),
        "ext.shuffle_bytes_per_doc": mean_counter("shuffle_bytes") / n_docs if n_docs else 0.0,
        "read_p50_ms": info["read_p50_ms"],
        "write_p50_ms": info["write_p50_ms"],
        "write_amp": info.get("write_amp", 0.0),
        "space_amp": info.get("space_amp", 0.0),
        "trace.shim_ms": tracer.own_s * 1e3 / len(timed),
        "trace.counters_ms": tracer.counters_s * 1e3 / len(timed),
        "trace.cpu_ms_per_op": run["cpu_ms_per_op"],
        **{k: run[k] for k in WALL},
    }
    assert set(out) == set(PER_LAYER)
    return out


def _missing_coverage(workload, tracer, per_op_counters) -> list[str]:
    """Applicable per-layer metrics whose source the traced run never saw:
    a shim that was never entered (the metric's name minus its unit suffix
    is the span name), or no Spark counters at all."""
    from perfbench.tracing import SPAN_NAMES

    missing = []
    for name, (_unit, applies) in PER_LAYER.items():
        if workload not in applies:
            continue
        span = name.rsplit("_", 1)[0]
        if span in SPAN_NAMES and tracer.count(span) == 0:
            missing.append(name)
        elif name.startswith("spark.") and not per_op_counters:
            missing.append(name)
    return missing


def _stop(spark) -> None:
    """Stop Spark, then close the JVM's stdin (it exits on EOF) and wait
    for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the gateway may already be gone
        pass
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
